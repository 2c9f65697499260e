"""Structured Streaming operators over the events stream (SURVEY.md §7.8).

The reference is batch-only; this is the engine's streaming surface:
watermarked tumbling-window aggregation and gap-based session windows,
driven to completion synchronously via the memory sink for tests/driver
checks. On a real deployment the same plan reads Kafka and writes a
transactional sink via ``foreachBatch`` — only the source/sink lines
change, the transformation is identical (that symmetry is the point of
Structured Streaming).

The events parquet stores timestamp[us] (TIMESTAMP_NTZ to Spark) since the
testdata regeneration; streaming reads declare the column as TIMESTAMP_NTZ
and immediately cast to TIMESTAMP, because watermarks require TIMESTAMP
event time (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE otherwise). The session tz
is pinned UTC, so the cast is value-preserving and batch/stream agree.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..scratch import run_dir

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.TimestampNTZType(), True),  # timestamp[us] footer (see module doc)
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the file-stream source requires a directory; select the single table
    # file with a glob filter
    raw = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # watermark event time must be TIMESTAMP; UTC session tz makes this exact
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window counts — late rows beyond the watermark
    are dropped and window state is evicted, bounding memory at any scale."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Native session windows (gap-merged) — the streaming twin of the batch
    lag+cumsum sessionization in plans/queries_events.py."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def _run_to_memory(agg: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Drive a streaming aggregation to completion against the memory sink."""
    name = f"stream_{uuid.uuid4().hex[:12]}"
    q = agg.writeStream.outputMode(output_mode).format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    spark = agg.sparkSession
    return spark.table(name)


def run_tumbling_stream_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-shot: stream the events parquet through the tumbling agg.

    Returns the materialized memory-sink table, ordered for determinism.
    Matches the batch `events_tumbling_window` query result (complete mode,
    so no rows are withheld by the final watermark).
    """
    events = read_events_stream(spark, sf_dir)
    out = _run_to_memory(tumbling_counts(events), "complete")
    return out.orderBy("window_start", "event_type")


def run_session_stream_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_events_stream(spark, sf_dir)
    out = _run_to_memory(session_counts(events), "complete")
    return out.orderBy("user_id", "session_start")


def dedup_stream(events: DataFrame, keys: list[str] | None = None, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup: state holds each key only until the watermark
    passes it, so memory is bounded by keys-per-watermark-window — the
    streaming twin of operators/dedup.exact_dedup, and the shape of
    ingest-time dedup in a training-data pipeline."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys or ["event_id"])


def run_dedup_stream_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-shot: stream events unioned with itself (every row duplicated),
    dedup within the watermark, and summarize per event_type. Row counts
    equal the batch distinct counts when nothing is watermark-late."""
    e1 = read_events_stream(spark, sf_dir)
    e2 = read_events_stream(spark, sf_dir)
    deduped = dedup_stream(e1.unionByName(e2))
    name = f"dedup_{uuid.uuid4().hex[:12]}"
    q = (
        deduped.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).orderBy("event_type")


def interval_join_stream(
    views: DataFrame, clicks: DataFrame, horizon: str = "10 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream interval join: each click matched to same-user views at
    most ``horizon`` before it.

    Both sides are watermarked and the join condition is time-bounded in
    BOTH directions, so Spark can evict view-side state once the click
    watermark passes ``view_ts + horizon`` — the state store stays bounded
    regardless of stream length (the unbounded-state trap of an
    unconstrained stream-stream join).
    """
    v = (
        views.filter(F.col("event_type") == "view")
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
    )
    c = (
        clicks.filter(F.col("event_type") == "click")
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
    )
    return c.join(
        v,
        F.expr(
            f"c_user = v_user AND view_ts <= click_ts "
            f"AND click_ts <= view_ts + interval {horizon}"
        ),
    ).select("c_user", "click_id", "view_id", "click_ts", "view_ts")


def run_interval_join_stream_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-shot: per-user counts of click→recent-view attribution pairs.

    The join runs in append mode (stream-stream joins emit matched rows
    only); the summary aggregation happens batch-side on the memory sink.
    """
    pairs = interval_join_stream(
        read_events_stream(spark, sf_dir), read_events_stream(spark, sf_dir)
    )
    out = _run_to_memory(pairs, "append")
    return (
        out.groupBy(F.col("c_user").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("user_id")
    )


def _upsert_merge_batch(
    batch_df: DataFrame, batch_id: int, state_dir: str, committed: list[int]
) -> None:
    """One micro-batch of :func:`run_foreachbatch_upsert_batch`'s keyed
    upsert sink, retry-idempotent.

    ``committed`` is the driver's snapshot pointer: the ids of the
    snapshots ``{state_dir}/v{id}`` still on disk, newest last. The batch
    merges its per-user partials into the newest snapshot OLDER than
    itself and writes ``v{batch_id}`` in overwrite mode, so a replay of a
    batch — whether its first attempt died mid-write or after the pointer
    moved — reads the same input and writes the same snapshot. The pointer
    moves last, after the snapshots no replay can read any more (older than
    the one this batch read) are vacuumed."""
    import shutil

    sp = batch_df.sparkSession
    part = batch_df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("raw_sum")
    )
    prior = [b for b in committed if b < batch_id]
    if prior:
        prev = sp.read.parquet(f"{state_dir}/v{prior[-1]}")
        part = prev.unionByName(part).groupBy("user_id").agg(
            F.sum("n_events").alias("n_events"), F.sum("raw_sum").alias("raw_sum")
        )
    part.write.mode("overwrite").parquet(f"{state_dir}/v{batch_id}")
    for old in prior[:-1]:
        shutil.rmtree(f"{state_dir}/v{old}", ignore_errors=True)
    committed[:] = prior[-1:] + [batch_id]


def run_foreachbatch_upsert_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream events into a keyed upsert sink via ``foreachBatch``.

    The production exactly-once sink pattern: each micro-batch is aggregated
    (count / sum per user) and MERGED into the running per-key state table —
    idempotent per key, additive across batches, exactly what a
    ``MERGE INTO`` against a transactional table does. The state lives in a
    keyed parquet table maintained by snapshot read-modify-write (union the
    previous snapshot with the batch partials, re-aggregate, write version
    N+1 — the same copy-on-write shape Delta/Iceberg MERGE compiles to); the
    driver holds only the snapshot ids (:func:`_upsert_merge_batch`), never
    per-user rows, so state scales with cluster storage, not driver memory.
    Raw sums accumulate un-rounded across snapshots and are rounded once at
    the end, so the result is batch-count-invariant and matches the
    batch/DuckDB aggregate exactly.
    """
    events = read_events_stream(spark, sf_dir)
    state_dir = run_dir("upsert_state")
    committed: list[int] = []

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        _upsert_merge_batch(batch_df, batch_id, state_dir, committed)

    q = events.writeStream.foreachBatch(merge).trigger(availableNow=True).start()
    q.awaitTermination()
    if not committed:  # empty stream
        return spark.createDataFrame([], "user_id long, n_events long, total_value double")
    # return the lazy scan of the final snapshot — no driver readout at all;
    # the session-lifetime temp snapshot is the "table" a caller would query
    out = spark.read.parquet(f"{state_dir}/v{committed[-1]}")
    return out.select(
        "user_id", "n_events", F.round("raw_sum", 4).alias("total_value")
    ).orderBy("user_id")


def _stage_events_with_sentinels(
    spark: SparkSession,
    sf_dir: str,
    watermark_s: int = 2 * 3600,
    horizon_s: int = 600,
    slack_s: int = 3000,
):
    """Copy the events parquet into a temp dir and append two single-row-pair
    sentinel parquet files with far-future timestamps (``user_id = -1``).

    The sentinels are watermark punctuation: once the stream ingests them,
    the event-time watermark advances past every real row's join horizon, so
    state that would otherwise be withheld at stream end (outer-join null
    rows, expiring session state) is flushed while data batches are still
    flowing — the second sentinel file guarantees the flush happens inside a
    *data* micro-batch, which ``processAllAvailable`` is guaranteed to await
    (a watermark-only empty batch is not). This is the standard "punctuation
    event" pattern for draining watermarked state in a bounded replay.

    Returns ``(staged_dir, cleanup_fn)``. Files get strictly increasing
    mtimes so the file-stream source (oldest-first) replays them in order:
    real data, sentinel A, sentinel B.
    """
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    staged = run_dir("stage")
    os.makedirs(staged)
    src = f"{sf_dir}/events.parquet"
    dst = f"{staged}/a_events.parquet"
    shutil.copyfile(src, dst)

    max_ts = (
        spark.read.parquet(src).agg(F.max(F.col("ts").cast("timestamp")).alias("m")).collect()[0]["m"]
    )
    base_us = int(max_ts.timestamp() * 1_000_000)

    def sentinel(path: str, offset_us: int) -> None:
        ts = pa.array([base_us + offset_us] * 2, pa.timestamp("us"))
        tbl = pa.table(
            {
                "event_id": pa.array([-1, -2], pa.int64()),
                "ts": ts,
                "user_id": pa.array([-1, -1], pa.int64()),
                "event_type": pa.array(["view", "click"], pa.string()),
                "value": pa.array([0.0, 0.0], pa.float64()),
                "props": pa.array(["{}", "{}"], pa.string()),
            }
        )
        pq.write_table(tbl, path)

    # Offsets DERIVED from the stream's watermark/horizon so a call site
    # changing either can't silently break the drain guarantee (the r6
    # advisor caught the previous hardcoded +3h/+4h): sentinel A must sit
    # past max_ts + watermark + horizon for the watermark to clear every
    # real row's join window; sentinel B lands a later *data* batch after
    # the advance so processAllAvailable is guaranteed to await the flush.
    # Defaults (2h + 10m + 50m slack = +3h, then +1h) equal the old values.
    off1_us = (watermark_s + horizon_s + slack_s) * 1_000_000
    off2_us = off1_us + max(watermark_s // 2, 1) * 1_000_000
    sentinel(f"{staged}/b_sentinel1.parquet", off1_us)
    sentinel(f"{staged}/c_sentinel2.parquet", off2_us)
    now = os.path.getmtime(dst)
    os.utime(f"{staged}/b_sentinel1.parquet", (now + 1, now + 1))
    os.utime(f"{staged}/c_sentinel2.parquet", (now + 2, now + 2))

    def cleanup() -> None:
        shutil.rmtree(staged, ignore_errors=True)

    return staged, cleanup


def read_staged_events_stream(spark: SparkSession, staged_dir: str) -> DataFrame:
    """File stream over a staged directory (every parquet file, one per
    micro-batch) — same schema/cast contract as :func:`read_events_stream`."""
    raw = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged_dir)
    )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def interval_left_join_stream(
    views: DataFrame, clicks: DataFrame, horizon: str = "10 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click, matched or not.

    The subtle outer-join semantic: an unmatched click can only emit its
    null-padded row once the watermark guarantees no matching view can
    still arrive — so rows within ``watermark`` of the stream's end are
    WITHHELD at stop, and the streaming result is a prefix of the batch
    left join, not equal to it (asserted by the pytest). State eviction
    follows the same bound as the inner variant.
    """
    v = (
        views.filter(F.col("event_type") == "view")
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
    )
    c = (
        clicks.filter(F.col("event_type") == "click")
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
    )
    joined = c.join(
        v,
        F.expr(
            f"c_user = v_user AND view_ts <= click_ts "
            f"AND click_ts <= view_ts + interval {horizon}"
        ),
        how="leftOuter",
    )
    return joined.select("c_user", "click_id", "view_id", "click_ts", "view_ts")


def run_interval_left_join_stream_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-shot: per-user counts of matched and (emitted) unmatched clicks."""
    pairs = interval_left_join_stream(
        read_events_stream(spark, sf_dir), read_events_stream(spark, sf_dir)
    )
    out = _run_to_memory(pairs, "append")
    return (
        out.groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("view_id").isNull().cast("long")).alias("n_unmatched_emitted"),
        )
        .orderBy("user_id")
    )


def run_interval_left_join_flushed_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER interval join drained to batch-equality via sentinel
    punctuation (see :func:`_stage_events_with_sentinels`).

    Unlike :func:`run_interval_left_join_stream_batch` (which documents the
    withheld-tail prefix semantics), this variant advances the watermark past
    every real click's join horizon before stopping, so every unmatched
    click's null-padded row IS emitted and the result hash-equals the batch
    left join — giving the stream-stream outer join a full DuckDB oracle.
    Sentinel rows (``user_id < 0``) are excluded from the summary.
    """
    staged, cleanup = _stage_events_with_sentinels(spark, sf_dir)
    try:
        pairs = interval_left_join_stream(
            read_staged_events_stream(spark, staged),
            read_staged_events_stream(spark, staged),
        )
        out = _run_to_memory(pairs, "append")
        return (
            out.filter(F.col("c_user") >= 0)
            .groupBy(F.col("c_user").alias("user_id"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("view_id").isNull().cast("long")).alias("n_unmatched"),
            )
            .orderBy("user_id")
        )
    finally:
        cleanup()


def run_stream_static_enrich_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment + aggregate, run to completion.

    The canonical "join the firehose to the dimension table" shape: the
    static side is a bounded batch DataFrame, so the join is STATELESS —
    each micro-batch broadcast-hash-joins against it, no streaming state,
    no watermark interplay (contrast the stream-stream interval joins
    above, which must hold state for the join horizon). The static dim
    here is a derived user-tier table; production swaps in any slowly
    changing table (re-read per batch if it must stay fresh).

    Complete-mode global agg over the enriched stream => deterministic,
    batch-equal result — this query is EXACT-oracle-checked, not rows-only.
    """
    events = read_events_stream(spark, sf_dir)
    users = (
        spark.read.option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .select("user_id")
        .distinct()
        .withColumn(
            "tier",
            F.when(F.col("user_id") % 3 == 0, "free")
            .when(F.col("user_id") % 3 == 1, "pro")
            .otherwise("enterprise"),
        )
    )
    enriched = events.join(F.broadcast(users), "user_id")
    agg = (
        enriched.groupBy("tier", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
    )
    out = _run_to_memory(agg, "complete")
    return out.orderBy("tier", "event_type")


def run_available_now_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental batch processing via ``Trigger.AvailableNow``.

    The modern "catch up, then stop" trigger: the query processes every
    file available at start across rate-limited micro-batches
    (maxFilesPerTrigger still applies) and TERMINATES — unlike
    ``processAllAvailable`` (used by the always-on demos above), which
    needs an external stop. This is the scheduled-incremental-job shape: a
    cron-launched run drains the new files since the last checkpoint and
    exits, giving batch economics with streaming exactly-once bookkeeping.
    Complete-mode result equals the batch aggregate — EXACT-oracle-checked.
    """
    events = read_events_stream(spark, sf_dir)
    agg = tumbling_counts(events)
    name = f"avail_now_{uuid.uuid4().hex[:12]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()  # availableNow self-terminates once caught up
    return spark.table(name).orderBy("window_start", "event_type")


def run_stream_static_left_enrich_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-static enrichment: stream rows with no dim match
    keep flowing with a null tier (coalesced to 'unknown') instead of
    silently dropping — the correct default for a dimension table that
    lags the stream (new users exist in events before the user dim ingests
    them). Still stateless per micro-batch; still exact vs batch SQL.
    The dim here covers only even user_ids, so the unmatched path is
    actually exercised (half the users aggregate under 'unknown').
    """
    events = read_events_stream(spark, sf_dir)
    users = (
        spark.read.option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
        .select("user_id")
        .distinct()
        .filter(F.col("user_id") % 2 == 0)
        .withColumn(
            "tier",
            F.when(F.col("user_id") % 4 == 0, "gold").otherwise("silver"),
        )
    )
    enriched = events.join(F.broadcast(users), "user_id", "left")
    agg = (
        enriched.groupBy(F.coalesce("tier", F.lit("unknown")).alias("tier"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
    )
    out = _run_to_memory(agg, "complete")
    return out.orderBy("tier")
