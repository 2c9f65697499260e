"""Streaming daily-crawl dedup: the span, MinHash and entity admit loops.

The batch triad in ``operators/dedup.py`` (``gram_index`` build →
``incremental_duplicated_spans`` probe → ``merge_gram_index`` fold), and
its MinHash and record-linkage analogues, as :class:`~.admit.AdmitLoop`
specs for the engine in ``streaming/admit.py``. Day-2 copies of day-1
text are found without rescanning history: at 100 TB of accumulated
corpus the per-batch cost is the batch's own explode + two narrow joins.
The staged two-day batches must stay in lockstep with the registered
DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .admit import AdmitLoop, run_delta, run_rewrite

_DOCS = "doc_id long, text string"


def _sum_n(grams: DataFrame) -> DataFrame:
    """``merge_gram_index``'s count algebra over a union of gram parts."""
    return grams.groupBy("gh").agg(F.sum("n").alias("n"))


def _span_batches(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Day 1 = novel payloads + suffix copies of history; day 2 = verbatim
    copies of day 1's novel text + genuinely new docs."""
    day1 = d.filter(F.col("doc_id") % 20 == 10).select(
        (F.col("doc_id") + F.lit(3_000_000)).alias("doc_id"),
        F.concat(
            F.lit("batchone novel payload number "),
            F.col("doc_id").cast("string"),
            F.lit(" padding alpha beta gamma delta epsilon"),
        ).alias("text"),
    )
    batch1 = day1.unionByName(
        d.filter(F.col("doc_id") % 20 == 0).select(
            (F.col("doc_id") + F.lit(6_000_000)).alias("doc_id"),
            F.expr("substring(text, 31)").alias("text"),
        )
    )
    batch2 = day1.select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "text"
    ).unionByName(
        d.filter(F.col("doc_id") % 20 == 5).select(
            (F.col("doc_id") + F.lit(5_000_000)).alias("doc_id"),
            F.concat(
                F.lit("daytwo novel doc "),
                F.col("doc_id").cast("string"),
                F.lit(" qqz"),
            ).alias("text"),
        )
    )
    return batch1, batch2


def _span_loop(
    spark: SparkSession, sf_dir: str, k: int, min_span: int, min_index_count: int = 1
) -> AdmitLoop:
    from ..operators.dedup import gram_index, incremental_duplicated_spans
    from ..sources import read_table

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")

    def probe(batch_df: DataFrame, view, batch_id: int) -> DataFrame:
        # presence: a gram is indexed iff any part carries it; a count
        # threshold needs each gram's total across parts first
        idx = view["grams"] if min_index_count == 1 else _sum_n(view["grams"])
        return incremental_duplicated_spans(
            batch_df, idx, "doc_id", "text", k=k, min_span=min_span,
            min_index_count=min_index_count,
        )

    return AdmitLoop(
        tag="stream_spans",
        history=d,
        batches=_span_batches(d),
        schema=_DOCS,
        admit=lambda df: {"grams": gram_index(df, "doc_id", "text", k=k)},
        probe=probe,
        columns=("doc_id", "span_start", "span_end", "span_len"),
        order=("doc_id", "span_start"),
        folds={"grams": _sum_n},
        # gh-keyed layout: 8 partitions for base, rewrite and compaction
        # writes, 4 for the O(batch) deltas
        layout=lambda df, delta: df.repartition(4 if delta else 8, "gh"),
    )


def run_streaming_span_dedup(
    spark: SparkSession,
    sf_dir: str,
    k: int = 20,
    min_span: int = 40,
) -> DataFrame:
    """Bounded replay of the two-day crawl with the REWRITE discipline.
    Returns every detected span, ``(doc_id, span_start, span_end,
    span_len)``; the DuckDB oracle replays it exactly (batch 1 probed
    against grams(history), batch 2 against grams(history ∪ batch 1))."""
    return run_rewrite(spark, _span_loop(spark, sf_dir, k, min_span))


def run_streaming_span_dedup_delta(
    spark: SparkSession,
    sf_dir: str,
    k: int = 20,
    min_span: int = 40,
    compact_every: int = 2,
    stats: dict | None = None,
    min_index_count: int = 1,
) -> DataFrame:
    """The span replay with the DELTA-APPEND discipline; output identical
    to the rewrite twin under the SAME staged oracle. ``stats`` (optional
    dict) receives ``admit_bytes_per_batch``, ``compact_bytes`` and
    ``base_bytes``: O(batch) admits against the rewrite's O(index)."""
    loop = _span_loop(spark, sf_dir, k, min_span, min_index_count)
    return run_delta(spark, loop, compact_every, stats)


def run_streaming_span_dedup_delta_restart(
    spark: SparkSession,
    sf_dir: str,
    k: int = 20,
    min_span: int = 40,
    compact_every: int = 2,
    stats: dict | None = None,
) -> DataFrame:
    """The restart drill for the span loop: each day in its OWN query
    lifetime, the manifest recovered from its durable log and Spark's
    ``checkpointLocation`` skipping day 1's file. Bit-equal to
    :func:`run_streaming_span_dedup_delta` under the SAME staged oracle."""
    loop = _span_loop(spark, sf_dir, k, min_span)
    return run_delta(spark, loop, compact_every, stats, restart=True)


def run_streaming_span_dedup_time_travel(
    spark: SparkSession,
    sf_dir: str,
    k: int = 20,
    compact_every: int = 2,
) -> DataFrame:
    """Time travel over the versioned gram index: run the delta span loop,
    then aggregate the index view each checkpointed version names. One row
    per version, ``(as_of_day, n_grams, total_n)``: day 0 = history, days 1
    and 2 = after that day's admit (day 2 post-compaction). The day-1 view
    read AFTER day 2's admit must equal grams(history ∪ batch 1), counts
    included; the oracle recomputes each day's corpus from scratch."""

    def travel(as_of) -> DataFrame:
        rows = []
        for day in (0, 1, 2):
            agg = as_of(day - 1)["grams"].agg(
                F.count_distinct("gh").alias("n_grams"),
                F.sum("n").cast("long").alias("total_n"),
            ).collect()[0]
            rows.append((day, agg["n_grams"], agg["total_n"]))
        return spark.createDataFrame(
            rows, "as_of_day int, n_grams bigint, total_n bigint"
        ).orderBy("as_of_day")

    loop = _span_loop(spark, sf_dir, k, 40)
    return run_delta(spark, loop, compact_every, readout=travel)


def _minhash_batches(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Day 1 = near-dups of history (``' fresh crawl'``) + novel docs; day 2
    = near-dups OF DAY 1's novel docs (``' extra'``, found only through the
    admitted signatures) + genuinely new docs."""
    novel1 = d.filter(F.col("doc_id") % 20 == 10).select(
        (F.col("doc_id") + F.lit(2_000_000)).alias("doc_id"),
        F.concat(
            F.lit("novel document "),
            (F.col("doc_id") + F.lit(2_000_000)).cast("string"),
            F.lit(" zzz unique alpha beta gamma"),
        ).alias("text"),
    )
    batch1 = d.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + F.lit(2_000_000)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" fresh crawl")).alias("text"),
    ).unionByName(novel1)
    batch2 = d.filter(F.col("doc_id") % 20 == 10).select(
        (F.col("doc_id") + F.lit(7_000_000)).alias("doc_id"),
        F.concat(
            F.lit("novel document "),
            (F.col("doc_id") + F.lit(2_000_000)).cast("string"),
            F.lit(" zzz unique alpha beta gamma extra"),
        ).alias("text"),
    ).unionByName(
        d.filter(F.col("doc_id") % 20 == 15).select(
            (F.col("doc_id") + F.lit(7_000_000)).alias("doc_id"),
            F.concat(
                F.lit("second crawl "),
                (F.col("doc_id") + F.lit(7_000_000)).cast("string"),
                F.lit(" qqq fresh doc"),
            ).alias("text"),
        )
    )
    return batch1, batch2


def _minhash_loop(spark: SparkSession, sf_dir: str, threshold: float) -> AdmitLoop:
    # md5-deterministic end to end: the oracle replays the banded
    # candidates and the overlap estimates exactly
    from ..operators.dedup import minhash_lsh_probe, minhash_signatures
    from ..sources import read_table

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return AdmitLoop(
        tag="stream_mh",
        history=d,
        batches=_minhash_batches(d),
        schema=_DOCS,
        admit=lambda df: {
            "sigs": minhash_signatures(df, "doc_id", "text", n_hashes=16).select(
                "doc_id", "sig"
            )
        },
        probe=lambda batch_df, view, batch_id: minhash_lsh_probe(
            batch_df, view["sigs"], "doc_id", "text",
            n_hashes=16, n_bands=4, threshold=threshold,
        ),
        columns=("new_id", "index_id", "est_jaccard"),
        order=("new_id", "index_id"),
    )


def run_streaming_minhash_probe(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.4,
) -> DataFrame:
    """Near-dup crawl dedup as a stream, REWRITE discipline: each batch is
    LSH-band-probed against the signatures admitted before it. Returns
    ``(new_id, index_id, est_jaccard)`` across both days."""
    return run_rewrite(spark, _minhash_loop(spark, sf_dir, threshold))


def run_streaming_minhash_probe_delta(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.4,
    compact_every: int = 2,
    stats: dict | None = None,
) -> DataFrame:
    """The minhash replay with the DELTA-APPEND discipline (O(batch)
    signature admits, plain-union compaction). Identical output to the
    rewrite twin under the SAME staged oracle; ``stats`` as in
    :func:`run_streaming_span_dedup_delta`."""
    return run_delta(spark, _minhash_loop(spark, sf_dir, threshold), compact_every, stats)


def run_streaming_minhash_probe_delta_restart(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.4,
    compact_every: int = 2,
    stats: dict | None = None,
) -> DataFrame:
    """Restart drill for the minhash loop (see
    :func:`run_streaming_span_dedup_delta_restart`). Bit-equal output."""
    loop = _minhash_loop(spark, sf_dir, threshold)
    return run_delta(spark, loop, compact_every, stats, restart=True)


def _entity_batches(c: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Day 1 = one-typo variants of history (pos 11 -> 'X') + novel
    records; day 2 = typos OF DAY 1's novel records (pos 10 -> 'Z') + new
    ones. Names come from the same lpad arithmetic as the oracle."""
    novel_name = F.concat(
        F.lit("Customer#"), F.lpad((F.col("id") + F.lit(500_000)).cast("string"), 9, "0")
    )
    batch1 = c.filter(F.col("id") % 20 == 0).select(
        (F.col("id") + F.lit(1_000_000)).alias("id"),
        F.concat(
            F.substring("name", 1, 10), F.lit("X"), F.expr("substring(name, 12)")
        ).alias("name"),
        "nk",
    ).unionByName(
        c.filter(F.col("id") % 20 == 10).select(
            (F.col("id") + F.lit(3_000_000)).alias("id"),
            novel_name.alias("name"),
            "nk",
        )
    )
    batch2 = c.filter(F.col("id") % 20 == 10).select(
        (F.col("id") + F.lit(4_000_000)).alias("id"),
        F.concat(
            F.lit("Customer#Z"),
            F.substring(
                F.lpad((F.col("id") + F.lit(500_000)).cast("string"), 9, "0"), 2, 8
            ),
        ).alias("name"),
        "nk",
    ).unionByName(
        c.filter(F.col("id") % 20 == 5).select(
            (F.col("id") + F.lit(5_000_000)).alias("id"),
            F.concat(
                F.lit("Customer#"),
                F.lpad((F.col("id") + F.lit(600_000)).cast("string"), 9, "0"),
            ).alias("name"),
            "nk",
        )
    )
    return batch1, batch2


def _entity_loop(spark: SparkSession, sf_dir: str) -> AdmitLoop:
    from ..operators.entity import blocking_probe
    from ..sources import read_table

    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nk"),
    )
    return AdmitLoop(
        tag="stream_er",
        history=c,
        batches=_entity_batches(c),
        schema="id long, name string, nk int",
        admit=lambda df: {"records": df.select("id", "name", "nk")},
        # blocking key: nation + the name tail no planted corruption touches
        probe=lambda batch_df, view, batch_id: blocking_probe(
            batch_df, view["records"], "id", "name",
            lambda df: [df["nk"], F.substring(df["name"], 13, 6)], max_distance=2,
        ),
        columns=("new_id", "index_id", "lev_dist"),
        order=("new_id", "index_id"),
    )


def run_streaming_entity_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming record linkage, REWRITE discipline: each batch of customer
    records probes the admitted master-entity snapshot, then is admitted;
    day-2 typos of day-1 novel records link only through the admission.
    Returns ``(new_id, index_id, lev_dist)`` across both days."""
    return run_rewrite(spark, _entity_loop(spark, sf_dir))


def run_streaming_entity_linkage_delta(
    spark: SparkSession,
    sf_dir: str,
    compact_every: int = 2,
    stats: dict | None = None,
) -> DataFrame:
    """The linkage replay with the DELTA-APPEND discipline (O(batch) record
    admits, plain-union compaction). Identical output to the rewrite twin
    under the SAME staged oracle."""
    return run_delta(spark, _entity_loop(spark, sf_dir), compact_every, stats)


def run_streaming_entity_linkage_delta_restart(
    spark: SparkSession,
    sf_dir: str,
    compact_every: int = 2,
    stats: dict | None = None,
) -> DataFrame:
    """Restart drill for the entity-linkage loop (see
    :func:`run_streaming_span_dedup_delta_restart`). Bit-equal output."""
    return run_delta(spark, _entity_loop(spark, sf_dir), compact_every, stats, restart=True)
