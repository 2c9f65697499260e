"""Incremental materialized-view maintenance via ``foreachBatch``.

The lakehouse pattern for keeping an aggregate table fresh without
recomputing it: stream the fact table's new files, aggregate each
micro-batch, and MERGE the partial aggregates into the running view. For
algebraic aggregates (count/sum — and avg as sum/count) the merged view is
batch-count-invariant, so the maintained MV equals the from-scratch
aggregate EXACTLY, which is what lets the registered query carry a full
value-hash oracle (the from-scratch TPC-H-Q1-style SQL).

Exactness discipline: money columns are summed as decimals per batch and
merged as Python ``Decimal`` in the driver-side state (at 100 TB the same
MERGE body targets a Delta/Iceberg table keyed by the group — one row per
group, never per event, so the state is bounded by |groups| either way).
Quantity-style doubles in the testdata are 2-decimal; they ride the same
decimal path.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import run_dir


def maintain_q1_mv(spark: SparkSession, sf_dir: str, n_files: int = 4) -> DataFrame:
    """Maintain the pricing-summary MV incrementally over a multi-file stream.

    lineitem is rewritten as ``n_files`` parquet files (so the file-stream
    source delivers ≥ ``n_files`` micro-batches with maxFilesPerTrigger=1),
    then each batch's partial aggregate merges into the per-(returnflag,
    linestatus) state. Returns the final MV ordered by group key.
    """
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount"
    )
    stage = run_dir("mv_stage")
    li.repartition(n_files).write.mode("overwrite").parquet(stage)

    schema = spark.read.parquet(stage).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)
    )

    # state: (flag, status) -> [n, sum_qty_cents, sum_price_cents, sum_disc_price_e6]
    state: dict[tuple, list] = {}

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        part = (
            batch_df.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"),
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("price"),
                F.sum(
                    (
                        F.col("l_extendedprice").cast("decimal(18,2)")
                        * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
                    ).cast("decimal(28,4)")
                ).alias("disc_price"),
            )
            .collect()  # one row per (flag, status) group in the batch — bounded
        )
        for r in part:
            cur = state.setdefault((r.l_returnflag, r.l_linestatus), [0, Decimal(0), Decimal(0), Decimal(0)])
            cur[0] += r.n
            # SUM over an all-null batch group is NULL — coalesce so the
            # general MV recipe survives sparse columns, not just TPC-H data
            cur[1] += r.qty if r.qty is not None else Decimal(0)
            cur[2] += r.price if r.price is not None else Decimal(0)
            cur[3] += r.disc_price if r.disc_price is not None else Decimal(0)

    q = stream.writeStream.foreachBatch(merge).trigger(availableNow=True).start()
    q.awaitTermination()

    rows = [
        (flag, status, n, str(qty), str(price), str(disc))
        for (flag, status), (n, qty, price, disc) in state.items()
    ]
    out = spark.createDataFrame(
        rows,
        "l_returnflag string, l_linestatus string, n_rows long, "
        "sum_qty_s string, sum_price_s string, sum_disc_price_s string",
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        "n_rows",
        F.col("sum_qty_s").cast("decimal(18,2)").cast("double").alias("sum_qty"),
        F.col("sum_price_s").cast("decimal(18,2)").cast("double").alias("sum_price"),
        F.round(F.col("sum_disc_price_s").cast("decimal(28,4)").cast("double"), 2).alias("sum_disc_price"),
    ).orderBy("l_returnflag", "l_linestatus")
