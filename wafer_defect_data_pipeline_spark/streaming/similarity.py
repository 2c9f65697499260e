"""Streaming ANN admit loop: probe the admitted vector index per batch.

The similarity-family admit loop (engine and rationale in
``streaming/admit.py``): each batch of embeddings is top-k probed against
the vector index as it stood BEFORE the batch, then admitted; day-2
near-duplicates of day-1 vectors are retrievable only through the
admission. Delta-append only: vectors are independent rows, so base ∪
deltas IS the index and compaction is a plain union. The probe is
``brute_force_topk`` with the exact HOF contract; a production deployment
swaps in the IVF/NSW probe against the same snapshot layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .admit import AdmitLoop, run_delta


def _md5_vec(prefix: str, id_col, dim: int = 64):
    """Engine-portable pseudo-random unit-range vector: component ``i`` is
    the first md5 byte of ``"{prefix}{id}:{i}"`` over 256 — an exact dyadic
    rational, so the DuckDB oracle rebuilds the same doubles."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.conv(
            F.substring(
                F.md5(F.concat(F.lit(prefix), id_col.cast("string"), F.lit(":"), i.cast("string"))),
                1,
                2,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(256.0),
    )


def _ann_batches(e: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The staged two-day embedding crawl, in lockstep with the registered
    SQL. Day 1: near-dups of history (+0.05 on dim 0) plus novel md5
    vectors; day 2: near-dups OF DAY 1's novel vectors (whose true nearest
    neighbour exists only via the admission step) plus new vectors."""
    near1 = e.filter(F.col("vec_id") % 40 == 0).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i == 0, x + F.lit(0.05)).otherwise(x),
        ).alias("embedding"),
    )
    # NB: rename before the shadowing select — a column reference INSIDE a
    # higher-order-function lambda resolves laterally to a same-select alias
    # (plain expressions resolve to the input column), so computing the md5
    # key from "vec_id" next to an alias of the same name silently hashed
    # the SHIFTED id
    novel1 = (
        e.filter(F.col("vec_id") % 40 == 10)
        .select(F.col("vec_id").alias("oid"))
        .select(
            (F.col("oid") + F.lit(2_000_000)).alias("vec_id"),
            _md5_vec("v1:", F.col("oid")).alias("embedding"),
        )
    )
    batch1 = near1.unionByName(novel1)
    near2 = novel1.select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: F.when(i == 0, x + F.lit(0.05)).otherwise(x),
        ).alias("embedding"),
    )
    new2 = (
        e.filter(F.col("vec_id") % 40 == 20)
        .select(F.col("vec_id").alias("oid"))
        .select(
            (F.col("oid") + F.lit(4_000_000)).alias("vec_id"),
            _md5_vec("v2:", F.col("oid")).alias("embedding"),
        )
    )
    batch2 = near2.unionByName(new2)
    return batch1, batch2


def _ann_loop(spark: SparkSession, sf_dir: str, k: int) -> AdmitLoop:
    from ..functions.arrays import as_double
    from ..operators.similarity import brute_force_topk
    from ..sources import read_table

    e = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("embedding")
    )
    return AdmitLoop(
        tag="stream_ann",
        history=e,
        batches=_ann_batches(e),
        schema="vec_id long, embedding array<double>",
        admit=lambda df: {"vectors": df.select("vec_id", "embedding")},
        # default size gate: under ~2M pairs the probe is the HOF fold; past
        # it the tie-exact Arrow/BLAS kernel serves the SAME contract
        # (6dp-round-before-prune, lowest-id ties), so the staged oracle
        # replays either branch. Forcing the fold measured 544 s at sf1.
        probe=lambda batch_df, view, batch_id: brute_force_topk(
            view["vectors"], batch_df, k=k
        ),
        columns=("query_id", "rank", "corpus_id", "cos_sim"),
        order=("query_id", "rank"),
    )


def run_streaming_ann_probe(
    spark: SparkSession,
    sf_dir: str,
    k: int = 3,
    compact_every: int = 2,
    stats: dict | None = None,
) -> DataFrame:
    """Bounded replay of the two-day embedding crawl
    (:func:`_ann_batches`), oldest-mtime-first, one file per micro-batch.
    Returns top-``k`` retrievals for every batch query:
    ``(query_id, rank, corpus_id, cos_sim)``. ``stats`` receives
    ``admit_bytes_per_batch``, ``compact_bytes`` and ``base_bytes``."""
    return run_delta(spark, _ann_loop(spark, sf_dir, k), compact_every, stats)


def run_streaming_ann_probe_restart(
    spark: SparkSession,
    sf_dir: str,
    k: int = 3,
    compact_every: int = 2,
    stats: dict | None = None,
) -> DataFrame:
    """The kill-between-days restart drill for the ANN loop: each day in
    its OWN query lifetime, the manifest recovered from its durable log.
    Bit-equal to :func:`run_streaming_ann_probe` under the SAME oracle."""
    return run_delta(spark, _ann_loop(spark, sf_dir, k), compact_every, stats, restart=True)
