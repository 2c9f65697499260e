"""Wafer pipeline (reference O1/M1-M4) exercised on driver data.

The driver has no wafer table, so the full pipeline runs on ``lineitem``
remapped to wafer semantics: Class↔l_returnflag, Step_desc↔l_linestatus,
IS_DEFECT derived from l_discount, 4 numeric features. KMeans makes this
non-SQL-expressible → registered WITHOUT an oracle (driver rows-only check);
value-level parity is covered by the golden test against the pandas replica
(tests/test_wafer_pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.clustering import run_kmeans_by_step, with_row_id
from ..operators.labeling import label_killer_defects
from ..operators.outliers import remove_outliers_by_group
from ..sources import read_table
from .pipeline import cascade_pin_allowed
from .registry import register

_FEATURES = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _as_wafer(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey"),
        F.col("l_linenumber"),
        F.col("l_returnflag").alias("Class"),
        F.when(F.col("l_discount") > 0.05, "REAL").otherwise("FALSE").alias("IS_DEFECT"),
        F.col("l_linestatus").alias("Step_desc"),
        *[F.col(c) for c in _FEATURES],
    )


def _wafer_pipeline_on_lineitem(spark, sf_dir):
    # Every run computes from parquet: run_kmeans_by_step leaves nothing in
    # Spark's CacheManager (which matches entries by ANALYZED PLAN, so a
    # leaked persist would serve run 1's blocks to bench runs 2-4). Below
    # its row gate it persists nothing; above it the narrow subset is
    # persisted only for the duration of the call
    # (operators/clustering.py), so this query needs no session-global
    # spark.catalog.clearCache(), which would evict every other cache entry
    # in the session (e.g. cli.py's preprocess cache).
    # attach the row id HERE, while the lineage is still a narrow select over
    # the parquet scan — the _metadata-derived id is pin-free; waiting until
    # after the outlier bounds join would force the localCheckpoint fallback
    df = with_row_id(_as_wafer(spark, sf_dir))
    df = remove_outliers_by_group(df, "Class", ["l_extendedprice", "l_quantity"])
    # Size-gated pin of the cascade output (r16, VERDICT r15 item 3 +
    # guide §5): this pipeline runs MULTIPLE actions over it (the kmeans
    # fetch or stats probe, then the final aggregate), and the lazy cascade —
    # scan, two exact-percentile bounds aggregates, broadcast joins,
    # filters — re-ran inside every one of them (job census: the two ~1 s
    # bounds aggs appeared under both actions; the plan had 8 scans / 22
    # exchanges). One localCheckpoint materializes the cascade once (its
    # call runs the shuffle stages, the first action the narrow tail);
    # measured interleaved at sf0.1: 5.18 -> 4.55 s median. Gated on scan
    # bytes because the pin writes O(filtered table) to executor storage:
    # past the threshold (env-overridable for cluster storage budgets)
    # re-deriving from columnar parquet is the cheaper side of the trade,
    # and the plan shape reverts to the scan-per-action form. Each
    # invocation builds a fresh RDD checkpoint — nothing survives the
    # query, so every bench/oracle run still computes from parquet.
    if cascade_pin_allowed(df):
        df = df.localCheckpoint(eager=False)
    df = df.withColumn("price_per_qty", F.col("l_extendedprice") / (F.col("l_quantity") + F.lit(1e-6)))
    df = run_kmeans_by_step(
        df, steps_to_analyse=["F", "O"], features=_FEATURES, n_clusters=2, random_state=42,
        mode="auto",
    )
    df = label_killer_defects(df, {"F": 1, "O": 0})
    return (
        df.groupBy("Class", "Step_desc")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("KMeans_Cluster").isNotNull().cast("long")).alias("n_clustered"),
            F.sum(F.col("is_killer_defect").cast("long")).alias("n_killer"),
        )
        .orderBy("Class", "Step_desc")
    )


register("wafer_pipeline_on_lineitem", _wafer_pipeline_on_lineitem, None, exact_twin="pytest:tests/test_wafer_pipeline.py")
