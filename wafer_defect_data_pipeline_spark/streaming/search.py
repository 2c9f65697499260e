"""Streaming inverted-index maintenance: a standing BM25 query over a
growing corpus.

The search-family admit loop (engine and rationale in
``streaming/admit.py``): each arriving batch is INDEXED incrementally —
postings, doc lengths and corpus stats admitted as O(batch) deltas — and a
STANDING query (the alerting shape: "the top-10 for these terms, every
day") is re-scored after each admit, so its view includes the day's own
crawl. Day-2 rankings shift because new docs compete AND because N, avgdl
and df moved — what the staged oracle pins by replaying each day's full
corpus. State = three relations per part: ``postings`` (term, doc_id, tf)
and ``doclens`` (doc_id, dl) are independent rows — the probe filters
postings to the query terms, so predicate pushdown keeps the read
proportional to query-term hits — and ``stats`` (n_docs, sum_dl) is one
summable row. df(term) needs no state: postings rows are unique per
(term, doc), so df is a count over the term-filtered union. The scoring
expressions (k1=1.2, b=0.75, +1-smoothed idf, 6dp-rounded DECIMAL(18,6)
contribution sums) are plans/queries_search.py's, verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .admit import AdmitLoop, run_delta

_K1 = 1.2
_B = 0.75
_QUERY_TERMS = ["join", "hash", "filter"]


def _search_batches(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The staged two-day crawl shared with the DuckDB oracle: each day's
    docs are suffixed copies of history text (guaranteed to carry the
    standing query's terms), so every admitted doc competes in the
    ranking and the per-day corpus is exactly replayable."""
    batch1 = d.filter(F.col("doc_id") % 20 == 10).select(
        (F.col("doc_id") + F.lit(3_000_000)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" day one refresh")).alias("text"),
    )
    batch2 = d.filter(F.col("doc_id") % 20 == 5).select(
        (F.col("doc_id") + F.lit(5_000_000)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" day two refresh")).alias("text"),
    ).unionByName(
        # the alert plant: a short day-2 doc saturated with the standing
        # query's terms — high tf, tiny dl, so it MUST top day 2's page
        # (and only day 2's), which is the retrieval-through-admission
        # property the pytest pins
        d.sparkSession.createDataFrame(
            [(9_000_000, "join hash filter join hash filter join hash filter")],
            "doc_id long, text string",
        )
    )
    return batch1, batch2


def _index_parts(df: DataFrame) -> dict[str, DataFrame]:
    """postings, doclens and stats for a document frame — the same token
    pipeline as plans/queries_search.py's batch BM25."""
    from ..functions.text import token_count, tokens

    tok = df.select("doc_id", F.explode(tokens("text")).alias("term"))
    postings = tok.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    doclens = df.select("doc_id", token_count("text").cast("long").alias("dl"))
    stats = doclens.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    return {"postings": postings, "doclens": doclens, "stats": stats}


def _sum_stats(stats: DataFrame) -> DataFrame:
    return stats.agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("sum_dl").cast("long").alias("sum_dl"),
    )


def _score_standing_query(view: dict[str, DataFrame], k: int) -> DataFrame:
    postings = view["postings"].filter(F.col("term").isin(_QUERY_TERMS))
    st = view["stats"].agg(
        F.sum("n_docs").cast("double").alias("n_docs"),
        (F.sum("sum_dl") / F.sum("n_docs")).alias("avgdl"),
    )
    df_ = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    contrib = idf * (
        F.col("tf").cast("double") * (_K1 + 1.0)
        / (
            F.col("tf").cast("double")
            + _K1 * (1.0 - _B + _B * F.col("dl").cast("double") / F.col("avgdl"))
        )
    )
    scored = (
        postings.join(F.broadcast(df_), on="term")
        .join(view["doclens"], on="doc_id")
        .crossJoin(F.broadcast(st))
        .select("doc_id", F.round(contrib, 6).cast("decimal(18,6)").alias("c"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("c").cast("double").alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(k)
        .select(
            F.row_number()
            .over(Window.orderBy(F.desc("bm25"), F.col("doc_id")))
            .alias("rank"),
            "doc_id",
            "bm25",
        )
    )


def _bm25_loop(spark: SparkSession, sf_dir: str, k: int) -> AdmitLoop:
    from ..sources import read_table

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return AdmitLoop(
        tag="stream_bm25",
        history=d,
        batches=_search_batches(d),
        schema="doc_id long, text string",
        admit=_index_parts,
        probe=lambda batch_df, view, batch_id: _score_standing_query(view, k).withColumn(
            "day", F.lit(batch_id + 1).cast("int")
        ),
        columns=("day", "rank", "doc_id", "bm25"),
        order=("day", "rank"),
        folds={"stats": _sum_stats},
        probe_after_admit=True,
    )


def run_streaming_bm25_standing(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    compact_every: int = 3,
    stats_out: dict | None = None,
) -> DataFrame:
    """Bounded replay of the two-day crawl with a standing 3-term BM25
    query re-scored after each day's admit. Returns
    ``(day, rank, doc_id, bm25)`` — top-``k`` per day, day = 1-based
    micro-batch number. History text is never re-tokenized. ``stats_out``
    receives ``admit_bytes_per_batch``, ``compact_bytes`` and
    ``base_bytes``."""
    return run_delta(spark, _bm25_loop(spark, sf_dir, k), compact_every, stats_out)


def run_streaming_bm25_standing_restart(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    compact_every: int = 3,
    stats_out: dict | None = None,
) -> DataFrame:
    """The kill-between-days restart drill for the standing-query loop: each
    day in its OWN query lifetime, the manifest recovered from its log.
    Bit-equal to :func:`run_streaming_bm25_standing` (day 1's page
    included, written before the "crash") under the SAME staged oracle."""
    loop = _bm25_loop(spark, sf_dir, k)
    return run_delta(spark, loop, compact_every, stats_out, restart=True)
