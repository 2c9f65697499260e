"""Unit tests for the extension operators: dedup recall, similarity
correctness, streaming/batch equivalence, multimodal stub behavior."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wafer_defect_data_pipeline_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
)
from wafer_defect_data_pipeline_spark.operators.multimodal import (
    attach_binary_payload,
    decode_image,
    extract_metadata,
)
from wafer_defect_data_pipeline_spark.operators.similarity import brute_force_topk, ivf_topk
from wafer_defect_data_pipeline_spark.sources import read_table


def test_fan_out_size_gate(spark, sf_small):
    # r16: min_input_bytes gates the repartition on the scan's file bytes
    # (driver-side listing). Below the gate the frame must pass through
    # UNCHANGED (same plan object semantics — no exchange added); above it
    # (or with the gate off) the narrow-file scan must fan out to the
    # session's default parallelism.
    from wafer_defect_data_pipeline_spark.functions.partitioning import fan_out

    d = read_table(spark, sf_small, "documents").select("doc_id")
    gated = fan_out(d, min_input_bytes=1 << 60)
    assert gated is d  # tiny file: gate closed, no repartition node
    open_gate = fan_out(d, min_input_bytes=1)
    assert open_gate is not d
    assert (
        open_gate.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    # default (no byte gate) keeps the r15 behavior: file-count probe only
    assert fan_out(d) is not d


def test_fan_out_size_gate_counts_no_files_as_zero_bytes(spark):
    # a frame with no input files is 0 bytes to the one size probe, so any
    # positive byte gate keeps it as it is; without a gate it still fans out
    from wafer_defect_data_pipeline_spark.functions.partitioning import fan_out

    d = spark.range(100).coalesce(1)
    assert d.inputFiles() == []
    assert fan_out(d, min_input_bytes=1) is d
    assert fan_out(d) is not d


def test_minhash_lsh_finds_planted_dups(spark, sf_small):
    d = read_table(spark, sf_small, "documents")
    planted = (
        d.filter(F.col("doc_id") % 10 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" extra")))
    )
    both = d.unionByName(planted)
    pairs = minhash_lsh_pairs(both, "doc_id", "text", threshold=0.4).toPandas()
    planted_ids = set(range(0, 500, 10))
    found = {(a, b - 1_000_000) for a, b in zip(pairs.id_a, pairs.id_b) if b >= 1_000_000}
    recall = len({p for p in found if p[0] == p[1]}) / len(planted_ids)
    assert recall >= 0.9, f"LSH recall {recall} too low"


def test_exact_dedup_idempotent(spark, sf_small):
    d = read_table(spark, sf_small, "documents")
    once = exact_dedup(d, ["text"], "doc_id")
    twice = exact_dedup(once, ["text"], "doc_id")
    assert once.count() == twice.count() == d.select("text").distinct().count()


def test_exact_dedup_keeps_null_key_group(spark):
    # A plain equi semi-join would never match null keys and silently drop
    # these rows; the null-safe join must keep exactly one (min doc_id).
    rows = [(1, "a"), (2, "a"), (3, None), (4, None), (5, "b")]
    d = spark.createDataFrame(rows, "doc_id int, text string")
    out = exact_dedup(d, ["text"], "doc_id").toPandas().sort_values("doc_id")
    assert list(out.doc_id) == [1, 3, 5]


def test_exact_dedup_unique_order_matches_semi_join(spark, sf_small):
    # The r16 single-shuffle min_by form must return the exact row set of
    # the two-shuffle semi-join whenever the order column is unique and
    # non-null — including null KEY groups and full payload columns.
    d = read_table(spark, sf_small, "documents")
    dup = d.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
    both = d.unionByName(dup).withColumn(
        "text", F.when(F.col("doc_id") % 7 == 3, F.lit(None)).otherwise(F.col("text"))
    )
    cols = both.columns
    a = sorted(map(tuple, exact_dedup(both, ["text"], "doc_id").select(cols).collect()))
    b = sorted(
        map(
            tuple,
            exact_dedup(both, ["text"], "doc_id", unique_order=True)
            .select(cols)
            .collect(),
        )
    )
    assert a == b and len(a) > 0


def test_jaccard_identical_docs_score_one(spark, sf_small):
    d = read_table(spark, sf_small, "documents").limit(50)
    dup = d.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    both = d.unionByName(dup).withColumn("blk", F.lit(1))
    pairs = jaccard_pairs(both, "doc_id", "text", "blk", threshold=0.999).toPandas()
    exact_self = pairs[(pairs.id_b - pairs.id_a) == 1_000_000]
    assert len(exact_self) == 50
    assert (exact_self.jaccard == 1.0).all()


def test_bruteforce_topk_self_excluded_and_sorted(spark, sf_small):
    e = read_table(spark, sf_small, "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    out = brute_force_topk(e, q, k=4).toPandas()
    assert set(out.query_id) == {0, 1, 2}
    for qid, grp in out.groupby("query_id"):
        assert list(grp["rank"]) == [1, 2, 3, 4]
        assert (grp.cos_sim.diff().dropna() <= 1e-12).all()
        assert qid not in set(grp.corpus_id)


def test_ivf_recall_against_bruteforce(spark, sf_small):
    e = read_table(spark, sf_small, "embeddings")
    q = e.filter(F.col("vec_id") % 100 == 0)
    exact = brute_force_topk(e, q, k=5).toPandas()
    approx = ivf_topk(e, q, k=5, n_probe=10).toPandas()  # all 10 cells -> exact
    ex = exact.sort_values(["query_id", "rank"]).reset_index(drop=True)
    ap = approx.sort_values(["query_id", "rank"]).reset_index(drop=True)
    # probing every cell must recover the exact result
    assert (ex[["query_id", "rank", "corpus_id"]] == ap[["query_id", "rank", "corpus_id"]]).all().all()


def test_streaming_tumbling_matches_batch(spark, sf_small):
    from wafer_defect_data_pipeline_spark.plans.queries_events import _tumbling
    from wafer_defect_data_pipeline_spark.streaming.events import run_tumbling_stream_batch

    batch = _tumbling(spark, sf_small).toPandas()
    stream = run_tumbling_stream_batch(spark, sf_small).toPandas()
    assert len(batch) == len(stream)
    b = batch.sort_values(["window_start", "event_type"]).reset_index(drop=True)
    s = stream.sort_values(["window_start", "event_type"]).reset_index(drop=True)
    assert (b["n"] == s["n"]).all()
    assert (abs(b["total_value"] - s["total_value"]) < 1e-6).all()


def test_streaming_session_windows_run(spark, sf_small):
    from wafer_defect_data_pipeline_spark.streaming.events import run_session_stream_batch

    out = run_session_stream_batch(spark, sf_small).toPandas()
    assert len(out) > 0
    assert (out.session_end >= out.session_start).all()


def test_multimodal_metadata(spark, sf_small):
    d = read_table(spark, sf_small, "documents")
    meta = extract_metadata(attach_binary_payload(d)).toPandas()
    docs = d.select("doc_id", F.length("text").alias("n")).toPandas()
    assert len(meta) == len(docs)
    merged = meta.merge(docs, on="doc_id")
    assert (merged.n_bytes == merged.n).all()  # ascii text: bytes == chars
    assert (merged.media_type == "application/octet-stream").all()
    assert merged.sha256.str.len().eq(64).all()


def test_decode_image_ppm_executes_and_non_ppm_raises(spark, sf_small):
    """The pixel path EXECUTES for PPM (stdlib codec): decoded dims and
    channel means must equal the closed-form fixture formulas. Non-PPM
    bytes without PIL still raise — the honest compressed-codec gate."""
    from wafer_defect_data_pipeline_spark.operators.multimodal import attach_ppm_payload

    d = read_table(spark, sf_small, "documents").limit(50)
    got = decode_image(attach_ppm_payload(d)).toPandas().sort_values("doc_id")
    ids = got.doc_id.to_numpy()
    assert (got.width.to_numpy() == 6 + ids % 5).all()
    assert (got.height.to_numpy() == 4 + ids % 3).all()
    npx = (6 + ids % 5) * (4 + ids % 3)
    assert got.mean_r.to_numpy() == pytest.approx(ids % 100 + (npx - 1) / 2)
    assert got.mean_g.to_numpy() == pytest.approx(255 - (ids % 100 + (npx - 1) / 2))
    assert got.mean_b.to_numpy() == pytest.approx(ids % 100)

    try:
        import PIL  # noqa: F401
    except ImportError:
        with pytest.raises(Exception):  # NotImplementedError inside the task
            decode_image(attach_binary_payload(d)).collect()


def test_asof_join_backward_semantics(spark):
    from wafer_defect_data_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("u1", 10, "a"), ("u1", 20, "b"), ("u1", 5, "c"), ("u2", 7, "d")],
        "key string, ts int, tag string",
    )
    right = spark.createDataFrame(
        [("u1", 10, 1.0), ("u1", 15, 2.0), ("u3", 1, 9.0)],
        "key string, ts int, val double",
    )
    out = {
        r["tag"]: (r["asof_ts"], r["asof_val"])
        for r in asof_join(left, right, on=["key"], left_ts="ts", right_ts="ts").collect()
    }
    assert out["a"] == (10, 1.0)  # equal ts matches (inclusive <=)
    assert out["b"] == (15, 2.0)  # latest prior, not first
    assert out["c"] == (None, None)  # no prior right row
    assert out["d"] == (None, None)  # key absent from right


def test_asof_join_null_payload_stays_atomic(spark):
    from wafer_defect_data_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame([("u1", 30)], "key string, ts int")
    right = spark.createDataFrame(
        [("u1", 10, 5.0), ("u1", 20, None)], "key string, ts int, val double"
    )
    row = asof_join(left, right, on=["key"], left_ts="ts", right_ts="ts").collect()[0]
    # the ts=20 row wins even though its payload is null — no splicing of
    # the older row's value
    assert row["asof_ts"] == 20 and row["asof_val"] is None


def test_stateful_profile_matches_batch_groupby(spark, sf_small):
    from wafer_defect_data_pipeline_spark.streaming.stateful import run_stateful_profile_batch

    out = run_stateful_profile_batch(spark, sf_small).toPandas()
    batch = (
        read_table(spark, sf_small, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 4).alias("total_value"),
        )
        .orderBy("user_id")
        .toPandas()
    )
    assert len(out) == len(batch)
    merged = out.merge(batch, on="user_id", suffixes=("_s", "_b"))
    assert (merged.n_events_s == merged.n_events_b).all()
    assert (abs(merged.total_value_s - merged.total_value_b) < 1e-6).all()


def test_salted_join_and_two_phase_agg_match_plain(spark, sf_small):
    from wafer_defect_data_pipeline_spark.operators.skew import salted_join, two_phase_agg

    li = read_table(spark, sf_small, "lineitem").select("l_suppkey", "l_quantity")
    supp = read_table(spark, sf_small, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    plain = (
        li.join(supp, "l_suppkey")
        .groupBy("s_nationkey")
        .agg(F.sum("l_quantity").alias("q"), F.count(F.lit(1)).alias("n"))
        .orderBy("s_nationkey")
        .collect()
    )
    salted = two_phase_agg(
        salted_join(li, supp, ["l_suppkey"], "inner", n_salts=4),
        ["s_nationkey"],
        [F.sum("l_quantity").alias("pq"), F.count(F.lit(1)).alias("pn")],
        [F.sum("pq").alias("q"), F.sum("pn").alias("n")],
    ).orderBy("s_nationkey").collect()
    assert [(r.s_nationkey, r.n) for r in plain] == [(r.s_nationkey, r.n) for r in salted]
    for p, s in zip(plain, salted):
        assert abs(p.q - s.q) < 1e-6


def test_bucketed_join_eliminates_shuffle(spark, sf_small, tmp_path):
    from wafer_defect_data_pipeline_spark.sources.bucketed import read_bucketed, write_bucketed

    orders = read_table(spark, sf_small, "orders").select("o_orderkey", "o_totalprice")
    li = read_table(spark, sf_small, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(orders, "t_orders_b", ["o_orderkey"], 4, path=str(tmp_path / "ob"))
    write_bucketed(li, "t_lineitem_b", ["l_orderkey"], 4, path=str(tmp_path / "lb"))
    try:
        a = read_bucketed(spark, "t_orders_b")
        b = read_bucketed(spark, "t_lineitem_b")
        # disable broadcast so the join would otherwise need an exchange
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = a.join(b, a.o_orderkey == b.l_orderkey)
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert joined.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_arrow_bruteforce_matches_hof(spark, sf_small):
    from wafer_defect_data_pipeline_spark.operators.similarity import brute_force_topk_arrow

    emb = read_table(spark, sf_small, "embeddings")
    q = emb.limit(20)
    jvm = brute_force_topk(emb, q, k=5).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    arrow = brute_force_topk_arrow(emb, q, k=5).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert len(jvm) == len(arrow)
    assert (jvm.query_id == arrow.query_id).all()
    assert (jvm.corpus_id == arrow.corpus_id).all()
    assert (abs(jvm.cos_sim - arrow.cos_sim) <= 1e-5).all()


def test_arrow_delegation_hash_equal(spark, sf_small):
    """The DELEGATED branch of brute_force_topk (size gate trips -> BLAS
    kernel) must be row-for-row HASH-EQUAL to the HOF branch, including 6dp
    tie boundaries — the r7 advice gap: the registered exact-oracle query
    had only exercised the HOF branch, so the arrow kernel's tie handling
    (round-before-prune + lowest-corpus-id wins) was asserted, not
    evidenced. Forcing the gate on the same input closes it."""
    emb = read_table(spark, sf_small, "embeddings")
    q = emb.limit(20)
    hof = (
        brute_force_topk(emb, q, k=5, arrow_threshold_pairs=None)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    delegated = (
        brute_force_topk(emb, q, k=5, arrow_threshold_pairs=0)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert hof.columns.tolist() == delegated.columns.tolist()
    assert len(hof) == len(delegated)
    for c in hof.columns:  # exact equality, not within-tol
        assert (hof[c] == delegated[c]).all(), c


def test_arrow_delegation_respects_query_bound(spark, sf_small):
    """A many-queries/small-corpus workload above the arrow kernel's
    broadcast bound must stay on the HOF path (and complete) instead of
    delegating into the kernel's max_query_rows ValueError (r7 advice)."""
    emb = read_table(spark, sf_small, "embeddings")
    q = emb.limit(20)
    out = brute_force_topk(
        emb, q, k=3, arrow_threshold_pairs=0, arrow_max_query_rows=5
    )
    assert out.count() == 20 * 3


def test_iqr_approx_mode_close_to_exact(spark, sf_small):
    from wafer_defect_data_pipeline_spark.operators.outliers import remove_outliers_by_group

    li = read_table(spark, sf_small, "lineitem")
    exact = remove_outliers_by_group(li, "l_returnflag", ["l_extendedprice"], mode="exact").count()
    approx = remove_outliers_by_group(
        li, "l_returnflag", ["l_extendedprice"], mode="approx", accuracy=10_000
    ).count()
    assert abs(exact - approx) <= max(5, exact * 0.01)


def test_cosine_lsh_finds_planted_dups(spark, sf_small):
    from wafer_defect_data_pipeline_spark.operators.similarity import cosine_lsh_pairs

    emb = read_table(spark, sf_small, "embeddings")
    planted = (
        emb.filter(F.col("vec_id") % 25 == 0)
        .withColumn("vec_id", F.col("vec_id") + 1_000_000)
        .withColumn("embedding", F.transform(F.col("embedding"), lambda x: x * F.lit(2.0)))
    )
    both = emb.unionByName(planted)
    pairs = cosine_lsh_pairs(both, threshold=0.99).toPandas()
    planted_ids = {r.vec_id for r in emb.filter(F.col("vec_id") % 25 == 0).select("vec_id").collect()}
    found = {a for a, b in zip(pairs.id_a, pairs.id_b) if b == a + 1_000_000}
    # identical-direction vectors have identical signatures -> always same band
    assert found == planted_ids
    # every emitted pair really is >= threshold (verified exactly)
    assert (pairs.cos_sim >= 0.99).all()


def test_knn_join_unblocked_guard(spark):
    """block_col=None is a cartesian product — beyond the row bound it must
    refuse unless the caller opts in explicitly; small inputs and blocked
    joins are unaffected."""
    import pytest as _pytest

    from wafer_defect_data_pipeline_spark.operators.similarity import knn_join_pairs

    big = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.rand(seed=7)).alias("embedding"),
    )
    with _pytest.raises(ValueError, match="cartesian"):
        knn_join_pairs(big, threshold=0.5, max_unblocked_rows=100)
    # explicit opt-in runs; small input under the bound runs
    assert knn_join_pairs(
        big, threshold=1.1, max_unblocked_rows=100, allow_quadratic=True
    ).count() == 0
    small = big.limit(10)
    assert knn_join_pairs(small, threshold=1.1, max_unblocked_rows=100).count() == 0


def test_streaming_multibatch_state_accumulates(spark, sf_small, tmp_path):
    """Split events over 4 files -> 4 micro-batches (maxFilesPerTrigger=1):
    tumbling counts and applyInPandasWithState running profiles must equal
    the single-pass batch results, proving cross-batch state is correct."""
    import pyspark.sql.functions as F2
    from wafer_defect_data_pipeline_spark.streaming.events import EVENTS_STREAM_SCHEMA, tumbling_counts
    from wafer_defect_data_pipeline_spark.streaming.stateful import user_running_profile
    from wafer_defect_data_pipeline_spark.sources import read_table

    events = read_table(spark, sf_small, "events")
    # ts is TIMESTAMP_NTZ; Spark writes it back as timestamp[us] — the same
    # physical schema as the driver file, so EVENTS_STREAM_SCHEMA reads it raw
    events.repartition(4).write.mode("overwrite").parquet(str(tmp_path / "ev"))

    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "ev"))
        .withColumn("ts", F2.col("ts").cast("timestamp"))  # watermark needs TIMESTAMP
    )

    name = "mb_tumbling"
    q = tumbling_counts(stream).writeStream.outputMode("complete").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        assert q.lastProgress["batchId"] >= 3  # really ran multiple batches
    finally:
        q.stop()
    got = spark.table(name).orderBy("window_start", "event_type").toPandas()
    want = (
        events.groupBy(F2.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F2.count(F2.lit(1)).alias("n"), F2.round(F2.sum("value"), 4).alias("total_value"))
        .select(F2.col("w.start").alias("window_start"), "event_type", "n", "total_value")
        .orderBy("window_start", "event_type")
        .toPandas()
    )
    assert got.reset_index(drop=True).equals(want.reset_index(drop=True))

    name2 = "mb_stateful"
    q2 = (
        user_running_profile(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name2)
        .start()
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    from pyspark.sql import Window as W2

    w = W2.partitionBy("user_id").orderBy(F2.desc("n_events"))
    final = (
        spark.table(name2)
        .withColumn("__rn", F2.row_number().over(w))
        .filter(F2.col("__rn") == 1)
        .select("user_id", "n_events", "total_value")
        .orderBy("user_id")
        .toPandas()
    )
    batch = (
        events.groupBy("user_id")
        .agg(
            F2.count(F2.lit(1)).alias("n_events"),
            F2.round(F2.sum(F2.coalesce(F2.col("value"), F2.lit(0.0))), 4).alias("total_value"),
        )
        .orderBy("user_id")
        .toPandas()
    )
    assert (final.n_events.to_numpy() == batch.n_events.to_numpy()).all()
    assert (abs(final.total_value.to_numpy() - batch.total_value.to_numpy()) < 1e-6).all()


def test_q5_plan_broadcasts_all_dims_and_prunes(spark, sf_small):
    """Plan-shape regression: the star join must broadcast every dimension
    (no sort-merge at this scale) and the lineitem scan must read only the
    columns the query needs."""
    from wafer_defect_data_pipeline_spark.plans.registry import all_queries

    df = all_queries()["tpch_q5_regional_revenue"](spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    # column pruning: the 11-column lineitem scan narrows to the 4 used
    for unused in ["l_comment", "l_tax", "l_shipdate", "l_linenumber"]:
        assert f"lineitem.{unused}" not in opt


def test_flagship_scan_prunes_and_pushes(spark, sf_small):
    import contextlib
    import io

    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")  # AQE hides scan detail until the final plan
    plan = buf.getvalue()
    assert "PushedFilters" in plan
    # column pruning reaches the scan: unused lineitem columns never read
    read_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schemas and all("l_partkey" not in l and "l_suppkey" not in l for l in read_schemas)


def test_streaming_dedup_removes_planted_duplicates(spark, sf_small):
    from wafer_defect_data_pipeline_spark.streaming.events import run_dedup_stream_batch

    got = run_dedup_stream_batch(spark, sf_small).toPandas()
    want = (
        read_table(spark, sf_small, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
        .toPandas()
    )
    assert got.reset_index(drop=True).equals(want.reset_index(drop=True))


def test_operators_handle_empty_input(spark):
    """Driver-robustness: every core operator must survive 0-row input."""
    import pandas as pd
    from wafer_defect_data_pipeline_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
    from wafer_defect_data_pipeline_spark.operators.outliers import remove_outliers_by_group
    from wafer_defect_data_pipeline_spark.plans.pipeline import WaferPipeline
    from tests.wafer_fixture import make_wafer_pdf

    empty_wafer = spark.createDataFrame(make_wafer_pdf(50)).limit(0)
    out = WaferPipeline().preprocess(empty_wafer)
    assert out.count() == 0 and "is_killer_defect" in out.columns

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert exact_dedup(empty_docs, ["text"], "doc_id").count() == 0
    assert minhash_lsh_pairs(empty_docs, "doc_id", "text").count() == 0
    assert remove_outliers_by_group(empty_docs.withColumn("v", F.lit(1.0)), "doc_id", ["v"]).count() == 0


def test_pinned_count_counts_inside_the_pin(spark):
    """curation_end_to_end counts each stage through an observation on its
    eager pin (one job per stage): the counts must be the row counts, on a
    narrow frame, a shuffled one and an empty one, and the frame returned
    must be the checkpoint, not the lineage."""
    from wafer_defect_data_pipeline_spark.plans.queries_curation import _pinned_count

    r = spark.range(1000)
    cases = {
        r.filter(F.col("id") % 7 == 0): 143,
        r.groupBy((F.col("id") % 13).alias("k")).count(): 13,
        r.filter(F.col("id") < 0): 0,
    }
    for df, want in cases.items():
        pin, n = _pinned_count(df)
        assert n == want == pin.count()
        assert "LogicalRDD" in pin._jdf.queryExecution().optimizedPlan().toString()


def test_lazy_pin_runs_upstream_shuffles_at_the_call(spark):
    """Under AQE, ``localCheckpoint(eager=False)`` is lazy only past the
    last exchange: the call finalizes the adaptive plan, which runs every
    upstream shuffle stage then and there. A narrow frame runs no job at
    the call; a shuffled one runs its map stage there."""
    import uuid

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(thunk):
        group = f"lazy-pin-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = thunk()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(tracker.getJobIdsForGroup(group))

    r = spark.range(1000)
    _, at_call = jobs(lambda: r.filter(F.col("id") % 7 == 0).localCheckpoint(eager=False))
    assert at_call == 0
    shuffled = r.groupBy((F.col("id") % 7).alias("k")).count()
    pin, at_call = jobs(lambda: shuffled.localCheckpoint(eager=False))
    assert at_call == 1
    assert pin.count() == 7


def test_q1_results_invariant_to_partitioning(spark, sf_small):
    """Decimal aggregation makes q1 bit-identical regardless of partition
    count — the property that keeps the oracle hash stable when the driver's
    session config differs from the test session's."""
    from wafer_defect_data_pipeline_spark.plans.registry import all_queries

    q1 = all_queries()["tpch_q1_pricing_summary"]
    base = q1(spark, sf_small).toPandas()
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        other = q1(spark, sf_small).toPandas()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert base.equals(other)


def test_frame_sampling_reassembles_payload(spark, sf_small):
    from wafer_defect_data_pipeline_spark.operators.multimodal import (
        attach_binary_payload,
        sample_frames,
    )

    d = read_table(spark, sf_small, "documents").limit(20)
    withbin = attach_binary_payload(d)
    frames = sample_frames(withbin, frame_bytes=64).toPandas()
    orig = {r["doc_id"]: bytes(r["payload"]) for r in withbin.collect()}
    for doc_id, grp in frames.groupby("doc_id"):
        joined = b"".join(bytes(f) for f in grp.sort_values("frame_idx")["frame"])
        assert joined == orig[doc_id]


def test_extract_features_shape_and_determinism(spark, sf_small):
    from wafer_defect_data_pipeline_spark.operators.multimodal import (
        attach_binary_payload,
        extract_features,
    )

    d = read_table(spark, sf_small, "documents").limit(20)
    f1 = extract_features(attach_binary_payload(d), dim=8).toPandas().sort_values("doc_id")
    f2 = extract_features(attach_binary_payload(d), dim=8).toPandas().sort_values("doc_id")
    assert all(len(v) == 8 for v in f1.features)
    assert all((a == b).all() for a, b in zip(f1.features.to_numpy(), f2.features.to_numpy()))
    assert all(all(0.0 <= x < 1.0 for x in v) for v in f1.features)


def test_resize_ppm_executes_and_non_ppm_raises(spark, sf_small):
    """Nearest-neighbor resize runs end-to-end on PPM: output re-decodes to
    the target dims, and the constant blue channel survives resampling
    exactly. Non-PPM bytes without PIL raise at execution."""
    from wafer_defect_data_pipeline_spark.operators.multimodal import (
        attach_binary_payload,
        attach_ppm_payload,
        decode_image,
        resize_image,
    )

    d = read_table(spark, sf_small, "documents").limit(20)
    resized = resize_image(attach_ppm_payload(d), 4, 3).withColumnRenamed("resized", "payload")
    got = decode_image(resized).toPandas().sort_values("doc_id")
    assert (got.width == 4).all() and (got.height == 3).all()
    assert got.mean_b.to_numpy() == pytest.approx(got.doc_id.to_numpy() % 100)

    try:
        import PIL  # noqa: F401
    except ImportError:
        with pytest.raises(Exception):
            resize_image(attach_binary_payload(d), 32, 32).collect()


def test_pandas_udf_norm_matches_jvm(spark, sf_small):
    from wafer_defect_data_pipeline_spark.functions.arrays import l2_norm
    from wafer_defect_data_pipeline_spark.functions.udfs import l2_norm_arrow

    emb = read_table(spark, sf_small, "embeddings").limit(100)
    both = emb.select(
        "vec_id", l2_norm("embedding").alias("jvm"), l2_norm_arrow("embedding").alias("arrow")
    ).toPandas()
    assert (abs(both.jvm - both.arrow) < 1e-9).all()


def test_udtf_sentence_split(spark):
    from wafer_defect_data_pipeline_spark.functions.udfs import SplitSentences

    spark.udtf.register("split_sentences", SplitSentences)
    out = spark.sql(
        "SELECT t.doc_id, s.sent_idx, s.sentence "
        "FROM VALUES (1, 'Hello there. How are you? Fine!'), (2, ''), (3, 'One') AS t(doc_id, txt), "
        "LATERAL split_sentences(t.txt) AS s "
        "ORDER BY doc_id, sent_idx"
    ).collect()
    got = [(r.doc_id, r.sent_idx, r.sentence) for r in out]
    assert got == [
        (1, 0, "Hello there"),
        (1, 1, "How are you"),
        (1, 2, "Fine"),
        (3, 0, "One"),
    ]


def test_watermark_drops_late_rows_in_append_mode(spark, tmp_path):
    """Two files processed as two micro-batches: batch 1 advances the
    watermark; batch 2 carries one on-time row and one row older than the
    watermark. Append mode must finalize windows without the late row."""
    import os
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F2
    from wafer_defect_data_pipeline_spark.streaming.events import (
        EVENTS_STREAM_SCHEMA,
        tumbling_counts,
    )

    d = tmp_path / "late_ev"
    d.mkdir()
    base = 1_700_000_000  # epoch seconds
    hour = 3600

    def write(name, rows, mtime):
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([int((base + r[1]) * 1e6) for r in rows], pa.timestamp("us")),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": pa.array(["click"] * len(rows)),
                "value": pa.array([1.0] * len(rows)),
                "props": pa.array(["{}"] * len(rows)),
            }
        )
        path = str(d / name)
        pq.write_table(tbl, path)
        os.utime(path, (mtime, mtime))

    # batch 1: events at 10:00 and 11:00 -> watermark 9:00 after the batch
    write("a.parquet", [(1, 10 * hour), (2, 11 * hour)], 1_000_000)
    # batch 2: on-time 12:30 (advances watermark to 10:30) + late 8:30
    write("b.parquet", [(3, int(12.5 * hour)), (4, int(8.5 * hour))], 2_000_000)

    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
        .withColumn("ts", F2.expr("cast(ts as timestamp)"))  # watermark needs TIMESTAMP
    )
    q = (
        tumbling_counts(stream, window="1 hour", watermark="2 hours")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("late_test")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table("late_test").toPandas()
    # only the 10:00 window is finalized (end 11:00 <= watermark 10:30);
    # the late 8:30 row was discarded, so its window never appears
    assert out["n"].sum() == 1
    hours = {t.hour for t in out.window_start}
    assert 8 not in hours


def test_asof_join_forward_and_tolerance(spark):
    from wafer_defect_data_pipeline_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("u1", 10, "a"), ("u1", 16, "b"), ("u1", 100, "c")], "key string, ts int, tag string"
    )
    right = spark.createDataFrame(
        [("u1", 10, 1.0), ("u1", 15, 2.0), ("u1", 20, 3.0)], "key string, ts int, val double"
    )
    fwd = {
        r["tag"]: (r["asof_ts"], r["asof_val"])
        for r in asof_join(left, right, ["key"], "ts", "ts", direction="forward").collect()
    }
    assert fwd["a"] == (10, 1.0)  # inclusive >=
    assert fwd["b"] == (20, 3.0)  # next, not previous
    assert fwd["c"] == (None, None)  # nothing after

    tol = {
        r["tag"]: (r["asof_ts"], r["asof_val"])
        for r in asof_join(left, right, ["key"], "ts", "ts", tolerance=3).collect()
    }
    assert tol["a"] == (10, 1.0)  # gap 0 <= 3
    assert tol["b"] == (15, 2.0)  # gap 1 <= 3
    assert tol["c"] == (None, None)  # gap 80 > 3 -> nulled


def test_hash_split_deterministic_and_proportional(spark, sf_small):
    from wafer_defect_data_pipeline_spark.operators.sampling import hash_split

    d = read_table(spark, sf_small, "documents")
    s1 = hash_split(d, "doc_id").groupBy("split").count().toPandas().set_index("split")["count"]
    s2 = hash_split(d, "doc_id").groupBy("split").count().toPandas().set_index("split")["count"]
    assert s1.equals(s2)  # pure projection: identical every run
    total = s1.sum()
    assert abs(s1["train"] / total - 0.8) < 0.06
    assert abs(s1.get("val", 0) / total - 0.1) < 0.05
    # a row's split never changes when the dataset grows
    half = hash_split(d.filter(F.col("doc_id") < 250), "doc_id").select("doc_id", "split")
    full = hash_split(d, "doc_id").select("doc_id", F.col("split").alias("split_full"))
    joined = half.join(full, "doc_id").filter(F.col("split") != F.col("split_full"))
    assert joined.count() == 0


def test_stratified_sample_fractions(spark, sf_small):
    from wafer_defect_data_pipeline_spark.operators.sampling import stratified_sample

    d = read_table(spark, sf_small, "documents")
    fracs = {"en": 0.5, "de": 0.2, "fr": 0.2, "es": 0.2}
    samp = stratified_sample(d, "lang", fracs).groupBy("lang").count().toPandas().set_index("lang")["count"]
    base = d.groupBy("lang").count().toPandas().set_index("lang")["count"]
    for lang, frac in fracs.items():
        if lang in base.index and base[lang] >= 50:
            got = samp.get(lang, 0) / base[lang]
            assert abs(got - frac) < 0.2, (lang, got, frac)


def test_connected_components_chain_and_singletons(spark):
    from wafer_defect_data_pipeline_spark.operators.graph import (
        cluster_assignment,
        connected_components,
    )

    # two chains (transitive merge required) + one isolated pair
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)], ["id_a", "id_b"]
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}

    # cluster_assignment keeps untouched rows as singletons (own id)
    docs = spark.createDataFrame([(i, f"d{i}") for i in [1, 2, 3, 4, 10, 11, 50]], ["doc_id", "text"])
    out = {r["doc_id"]: r["component"] for r in cluster_assignment(docs, "doc_id", pairs).collect()}
    assert out[50] == 50 and out[4] == 1 and out[11] == 10


def test_connected_components_edge_orientation_invariant(spark):
    from wafer_defect_data_pipeline_spark.operators.graph import connected_components

    fwd = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    rev = spark.createDataFrame([(2, 1), (3, 2)], ["id_a", "id_b"])
    a = sorted(map(tuple, connected_components(fwd).collect()))
    b = sorted(map(tuple, connected_components(rev).collect()))
    assert a == b == [(1, 1), (2, 1), (3, 1)]


def test_contamination_plan_broadcasts_benchmark_side(spark, sf_small):
    """Plan-shape regression: the benchmark shingle set must broadcast (corpus
    shingles probe map-side; no sort-merge join of the corpus explode)."""
    from wafer_defect_data_pipeline_spark.plans.registry import all_queries

    df = all_queries()["text_benchmark_contamination"](spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bucketed_join_has_no_exchange_before_join(spark, sf_small):
    """The co-located join property: with both sides bucketed by the join
    key, the SortMergeJoin consumes the scans directly — no Exchange on
    either join input (the shuffle was paid once at bucketed-write time).
    Post-agg exchanges on the 5-row priority stream are fine."""
    from wafer_defect_data_pipeline_spark.plans.registry import all_queries

    df = all_queries()["bucketed_join_zeroshuffle"](spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "hashpartitioning(o_orderkey" not in plan
    assert "hashpartitioning(l_orderkey" not in plan


def test_unigram_logprob_caps_vocab_and_broadcasts(spark, sf_small):
    """VERDICT r2 #6: the unigram-LM vocabulary must be bounded (top-K via
    TakeOrdered, never a full-vocab broadcast) and joined to the token stream
    as a broadcast hash join; OOV mass pools into one pseudo-count."""
    from wafer_defect_data_pipeline_spark.plans.registry import all_queries

    df = all_queries()["text_unigram_logprob"](spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrdered" in plan  # the top-K vocab cap, not a global sort
    # OOV semantics: with top_k below the vocab size, every doc still scores
    assert df.count() == df.select("doc_id").distinct().count() > 0


def test_cluster_assignment_plan_has_no_cartesian(spark, sf_small):
    """The LSH candidate join must stay an equi-join on (band, key) — never a
    cartesian/nested-loop product of the corpus with itself. The component map
    joins back to the corpus as a broadcast."""
    from wafer_defect_data_pipeline_spark.plans.registry import all_queries

    df = all_queries()["dedup_cluster_assignment"](spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_upsert_merge_batch_replay_is_idempotent(spark, tmp_path):
    """The foreachBatch upsert body may be replayed for one batch id (a
    retry after a failure, before or after the snapshot pointer moved):
    replaying batch 1 rewrites the same v1 snapshot instead of failing on
    the existing path or merging the batch into itself."""
    from wafer_defect_data_pipeline_spark.streaming.events import _upsert_merge_batch

    schema = "user_id long, value double"
    b0 = spark.createDataFrame([(1, 1.0), (2, 2.0)], schema)
    b1 = spark.createDataFrame([(1, 10.0), (3, 3.0)], schema)
    state, committed = str(tmp_path), []

    def snapshot():
        return sorted(map(tuple, spark.read.parquet(f"{state}/v{committed[-1]}").collect()))

    _upsert_merge_batch(b0, 0, state, committed)
    _upsert_merge_batch(b1, 1, state, committed)
    first = snapshot()
    assert first == [(1, 2, 11.0), (2, 1, 2.0), (3, 1, 3.0)]
    _upsert_merge_batch(b1, 1, state, committed)
    assert committed == [0, 1] and snapshot() == first
    _upsert_merge_batch(b0, 2, state, committed)
    assert committed == [1, 2] and not (tmp_path / "v0").exists()


def test_merge_upsert_scan_prunes_columns(spark, sf_small):
    """The MERGE reads only (o_orderkey, o_totalprice) from the 9-column
    orders table — pruning must reach the scan."""
    from wafer_defect_data_pipeline_spark.plans.registry import all_queries

    df = all_queries()["merge_upsert"](spark, sf_small)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    for unused in ["o_custkey", "o_orderstatus", "o_orderdate", "o_comment"]:
        assert f"orders.{unused}" not in opt


def test_partitioned_read_prunes_partitions(spark, sf_small):
    """The lang='de' filter must become a planning-time PartitionFilter on
    the hive-partitioned layout — only one lang directory is scanned."""
    import contextlib
    import io

    from wafer_defect_data_pipeline_spark.plans.registry import all_queries

    df = all_queries()["partitioned_pruned_read"](spark, sf_small)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("lang" in l for l in pf_lines)


# --- round-2 sampling / packing / layout ops --------------------------------
def test_mixture_sampling_budget_and_determinism(spark, sf_small):
    from wafer_defect_data_pipeline_spark.operators.sampling import (
        apply_mixture_sample,
        mixture_sampling_rates,
    )

    d = read_table(spark, sf_small, "documents")
    rates = mixture_sampling_rates(d, "source", "n_chars", token_budget=5_000, alpha=0.5)
    rp = rates.toPandas()
    assert (rp.rate <= 1.0).all() and (rp.rate >= 0).all()
    assert abs(rp.weight.sum() - 1.0) < 1e-4
    # expected kept tokens ~= sum(rate_s * n_s) <= ~budget (cap at 1 only lowers it)
    assert (rp.rate * rp.n_tokens).sum() <= 5_000 * 1.01
    s1 = apply_mixture_sample(d, rates, "source", "doc_id").toPandas()
    s2 = apply_mixture_sample(d, rates, "source", "doc_id").toPandas()
    assert sorted(s1.doc_id) == sorted(s2.doc_id)
    # plan: rates side must broadcast, corpus must not shuffle for the filter
    plan = apply_mixture_sample(d, rates, "source", "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_pack_concat_chunks_contiguous_and_exact(spark):
    from wafer_defect_data_pipeline_spark.operators.packing import pack_concat_chunks

    rows = [("a", i, n) for i, n in enumerate([100, 900, 600, 600, 600, 2048, 1])]
    df = spark.createDataFrame(rows, "src string, id long, n long")
    out = pack_concat_chunks(df, "src", "id", "n", seq_len=1024).orderBy("id").toPandas()
    # cum_before: 0,100,1000,1600,2200,2800,4848 -> div 1024: 0,0,0,1,2,2,4
    assert out.pack_id.tolist() == [0, 0, 0, 1, 2, 2, 4]
    # deterministic + partition-count invariant
    out2 = pack_concat_chunks(df.repartition(7), "src", "id", "n", seq_len=1024).orderBy("id").toPandas()
    assert out2.pack_id.tolist() == out.pack_id.tolist()


def test_topk_per_group_exact_k(spark, sf_small):
    from wafer_defect_data_pipeline_spark.operators.sampling import topk_per_group

    d = read_table(spark, sf_small, "documents")
    sizes = topk_per_group(d, "lang", "doc_id", k=7).groupBy("lang").count().toPandas()
    full = d.groupBy("lang").count().toPandas().set_index("lang")["count"]
    for lang, n in zip(sizes.lang, sizes["count"]):
        assert n == min(7, int(full[lang]))


def test_zorder_buckets_bound_both_columns(spark, sf_small):
    from wafer_defect_data_pipeline_spark.operators.layout import with_zvalue, zorder_by

    li = read_table(spark, sf_small, "lineitem")
    z = with_zvalue(li, "l_orderkey", "l_partkey", bits=8)
    zp = z.agg(F.min("zvalue"), F.max("zvalue")).collect()[0]
    assert zp[0] >= 0 and zp[1] < (1 << 16)
    # each top-4-bit bucket's bounding box must be narrower than the global
    # range on BOTH dimensions (the point of z-ordering vs single-col sort)
    stats = (
        z.groupBy(F.expr("zvalue div 4096").alias("b"))
        .agg(
            (F.max("l_orderkey") - F.min("l_orderkey")).alias("ow"),
            (F.max("l_partkey") - F.min("l_partkey")).alias("pw"),
        )
        .toPandas()
    )
    g = li.agg(
        (F.max("l_orderkey") - F.min("l_orderkey")).alias("ow"),
        (F.max("l_partkey") - F.min("l_partkey")).alias("pw"),
    ).collect()[0]
    assert stats.ow.median() < g["ow"] * 0.6
    assert stats.pw.median() < g["pw"] * 0.6
    # layout op: range exchange, no global single-partition sort
    plan = zorder_by(li, "l_orderkey", "l_partkey")._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()


# --- round-2 additions: governance / search / timeseries ---------------------
def test_hll_weekly_estimates_within_tolerance(spark, sf_small):
    """Mergeable-sketch rollup must land within 5% of the exact distinct.

    The query now emits the tolerance check itself (hash-verified by the
    oracle); this pytest independently recomputes the exact side and asserts
    every within_tol row is True against it."""
    from wafer_defect_data_pipeline_spark.plans.registry import all_queries
    from wafer_defect_data_pipeline_spark.sources import read_table

    rows = all_queries()["events_hll_weekly_users"](spark, sf_small).collect()
    e = read_table(spark, sf_small, "events")
    exact = {
        r.week: r.n
        for r in e.groupBy(F.weekofyear("ts").alias("week"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert {r.week for r in rows} == set(exact)
    for r in rows:
        assert r.exact_users == exact[r.week], (r.week, r.exact_users, exact[r.week])
        assert r.within_tol, (r.week, r.exact_users)


def test_semantic_dedup_plan_has_no_cartesian(spark, sf_small):
    """The LSH rewrite must never fall back to an all-pairs cross join."""
    from wafer_defect_data_pipeline_spark.plans.registry import all_queries

    df = all_queries()["semantic_dedup_keep"](spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_drops_exactly_planted(spark, sf_small):
    from wafer_defect_data_pipeline_spark.sources import read_table

    rows = all_queries_cached(spark, sf_small, "semantic_dedup_keep")
    n_dropped = sum(r.n_dropped for r in rows)
    n_total = sum(r.n_total for r in rows)
    e = read_table(spark, sf_small, "embeddings")
    n_base = e.count()
    n_planted = e.filter(F.col("vec_id") % 40 == 0).count()
    assert n_total == n_base + n_planted
    # every planted near-identical copy must be caught by the 64-bit LSH,
    # and nothing else (random pairs max out at cos ~0.5)
    assert n_dropped == n_planted


def all_queries_cached(spark, sf_dir, name):
    from wafer_defect_data_pipeline_spark.plans.registry import all_queries

    return all_queries()[name](spark, sf_dir).collect()


def test_bm25_plan_broadcasts_side_tables(spark, sf_small):
    from wafer_defect_data_pipeline_spark.plans.registry import all_queries

    df = all_queries()["text_bm25_topk"](spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_editdist_pairs_finds_planted_copies(spark, sf_small):
    rows = all_queries_cached(spark, sf_small, "text_editdist_pairs")
    planted = {(r.id_a, r.id_b) for r in rows if r.id_b == r.id_a + 1_000_000}
    assert planted, "planted one-char copies must surface as editdist pairs"
    assert all(r.dist <= 2 for r in rows)


def test_scd2_intervals_tile_without_overlap(spark, sf_small):
    """Each customer's intervals must be contiguous: valid_to == next valid_from."""
    rows = all_queries_cached(spark, sf_small, "scd2_priority_history")
    by_cust: dict = {}
    for r in rows:
        by_cust.setdefault(r.custkey, []).append(r)
    for cust, ivs in by_cust.items():
        ivs.sort(key=lambda r: r.version)
        for a, b in zip(ivs, ivs[1:]):
            assert a.valid_to == b.valid_from, (cust, a, b)
        assert ivs[-1].valid_to is None  # open-ended current state


def test_gapfill_dense_axis_and_ffill(spark, sf_small):
    rows = all_queries_cached(spark, sf_small, "events_gapfill_ffill")
    from collections import defaultdict

    per_user = defaultdict(list)
    for r in rows:
        per_user[r.user_id].append(r)
    for user, rs in per_user.items():
        hours = [r.hour for r in rs]
        assert hours == sorted(hours)
        # dense hourly axis: consecutive diffs are exactly 1 hour
        for a, b in zip(hours, hours[1:]):
            assert (b - a).total_seconds() == 3600, (user, a, b)
        # ffill never null after the first observed value
        seen = False
        for r in rs:
            if r.hour_value is not None:
                seen = True
            if seen:
                assert r.ffill_value is not None


def test_pagerank_mass_conserved_on_bidirectional_graph(spark):
    """With no dangling nodes, total rank mass must stay 1 (± float dust)."""
    from wafer_defect_data_pipeline_spark.operators.graph import pagerank

    base = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")], "src string, dst string"
    )
    edges = base.union(base.selectExpr("dst AS src", "src AS dst"))
    ranks = pagerank(edges, n_iter=10)
    rows = ranks.collect()
    assert len(rows) == 4
    assert abs(sum(r.rank for r in rows) - 1.0) < 1e-9
    # hub 'a' (degree 3) must outrank leaf 'd' (degree 1)
    by = {r.node: r.rank for r in rows}
    assert by["a"] > by["d"]


def test_exact_profile_multibatch_equals_batch(spark, sf_small, tmp_path):
    """Exact-cents stateful profile over 4 micro-batches == single-pass
    batch aggregate, bit-for-bit (integer-cents accumulation has no float
    drift, which is what justifies this query's full value-hash oracle)."""
    import pyspark.sql.functions as F2
    from wafer_defect_data_pipeline_spark.sources import read_table
    from wafer_defect_data_pipeline_spark.streaming.events import EVENTS_STREAM_SCHEMA
    from wafer_defect_data_pipeline_spark.streaming.stateful import (
        _run_profile_to_final,
        user_running_profile_exact,
    )

    events = read_table(spark, sf_small, "events")
    events.repartition(4).write.mode("overwrite").parquet(str(tmp_path / "ev"))
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "ev"))
        .withColumn("ts", F2.col("ts").cast("timestamp"))
    )
    got = _run_profile_to_final(user_running_profile_exact(stream), "exact_mb").toPandas()

    w = __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy("user_id").orderBy(
        F2.desc("ts"), F2.desc("event_id")
    )
    want = (
        events.withColumn("__rn", F2.row_number().over(w))
        .groupBy("user_id")
        .agg(
            F2.count(F2.lit(1)).alias("n_events"),
            F2.round(
                F2.sum(F2.coalesce("value", F2.lit(0.0)).cast("decimal(18,2)")).cast("double"), 2
            ).alias("total_value"),
            F2.max_by("event_type", F2.struct(F2.col("ts"), F2.col("event_id"))).alias("last_type"),
        )
        .orderBy("user_id")
        .toPandas()
    )
    assert got.reset_index(drop=True).equals(want.reset_index(drop=True))


def test_transformwithstate_gated_on_protobuf(spark, sf_small):
    """transformWithStateInPandas shares its fold with the exact profile;
    it can only EXECUTE where protobuf exists. Here: run it if the env has
    protobuf, otherwise assert the gate flag is honest and skip."""
    import pytest as _pytest

    from wafer_defect_data_pipeline_spark.streaming import stateful as st

    if not st.HAS_PROTOBUF:
        with _pytest.raises(ImportError):
            from google.protobuf import descriptor  # noqa: F401
        _pytest.skip("no protobuf in sandbox — transformWithState cannot execute")
    got = st.run_tws_profile_batch(spark, sf_small).toPandas()
    want = st.run_exact_profile_batch(spark, sf_small).toPandas()
    assert got.equals(want)


def test_python_datasource_stream_matches_batch(spark):
    """The SimpleDataSourceStreamReader twin emits exactly the batch rows
    (offset-tracked micro-batches over the same deterministic generator)."""
    from wafer_defect_data_pipeline_spark.sources.pyds import register_python_sources

    register_python_sources(spark)
    batch = (
        spark.read.format("synth_events").option("n", "500").load().orderBy("event_id").toPandas()
    )
    stream = (
        spark.readStream.format("synth_events_stream")
        .option("n", "500")
        .option("batch_size", "128")
        .load()
    )
    import uuid as _uuid

    name = f"pyds_{_uuid.uuid4().hex[:8]}"
    q = stream.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        # SimpleDataSourceStreamReader has no natural end-of-stream; drain
        # until the offset reaches n (4 batches of 128)
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.table(name).orderBy("event_id").toPandas()
    assert len(got) == 500
    assert got.reset_index(drop=True).equals(batch.reset_index(drop=True))


def test_streaming_on_rocksdb_state_store(spark, sf_small):
    """The 100 TB state backend: RocksDB state-store provider (off-heap,
    incremental-checkpoint) must produce byte-identical results to the
    default HDFS-backed provider for the watermarked tumbling agg."""
    from wafer_defect_data_pipeline_spark.streaming.events import run_tumbling_stream_batch

    key = "spark.sql.streaming.stateStore.providerClass"
    default = spark.conf.get(key, None)
    baseline = run_tumbling_stream_batch(spark, sf_small).toPandas()
    try:
        spark.conf.set(
            key, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        )
        rocks = run_tumbling_stream_batch(spark, sf_small).toPandas()
    finally:
        if default:
            spark.conf.set(key, default)
        else:
            spark.conf.unset(key)
    assert rocks.reset_index(drop=True).equals(baseline.reset_index(drop=True))


def test_compaction_reduces_physical_files(spark, sf_small):
    """compaction_small_files must actually rewrite the layout: the reported
    counts are checked against the real file listing on disk (the query's
    one new ``compaction_*`` run dir)."""
    from pathlib import Path

    from wafer_defect_data_pipeline_spark.plans.registry import all_queries
    from wafer_defect_data_pipeline_spark.scratch import scratch_dir

    root = Path(scratch_dir("run"))
    seen = set(root.glob("compaction_*"))
    row = all_queries()["compaction_small_files"](spark, sf_small).first()
    (work,) = set(root.glob("compaction_*")) - seen
    before = len(list((work / "shatter").glob("part-*")))
    after = len(list((work / "compact").glob("part-*")))
    assert (row.files_before, row.files_after) == (before, after)
    assert row.files_after < row.files_before


def test_pandas_api_features_match_native(spark, sf_small):
    """pyspark.pandas derived ratios == functions/derived.ratio bit-for-bit
    (both compile to the same Catalyst expressions)."""
    from wafer_defect_data_pipeline_spark.functions.derived import ratio
    from wafer_defect_data_pipeline_spark.plans.pipeline_ps import derived_features_ps
    from wafer_defect_data_pipeline_spark.sources import read_table

    li = read_table(spark, sf_small, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    )
    ps_out = (
        derived_features_ps(li.pandas_api())
        .to_spark()
        .select("l_orderkey", "l_linenumber", "ratio_qty_price")
        .orderBy("l_orderkey", "l_linenumber")
        .toPandas()
    )
    native = (
        li.select(
            "l_orderkey", "l_linenumber",
            ratio("l_quantity", "l_extendedprice").alias("ratio_qty_price"),
        )
        .orderBy("l_orderkey", "l_linenumber")
        .toPandas()
    )
    assert ps_out.reset_index(drop=True).equals(native.reset_index(drop=True))


def test_incremental_mv_equals_from_scratch(spark, sf_small):
    """foreachBatch-maintained Q1 MV == from-scratch aggregate, bit-for-bit
    (decimal partial aggregates merged across >= 4 micro-batches)."""
    from wafer_defect_data_pipeline_spark.streaming.mv import maintain_q1_mv

    got = maintain_q1_mv(spark, sf_small, n_files=4).toPandas()
    li = spark.read.parquet(f"{sf_small}/lineitem.parquet")
    want = (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice").cast("decimal(18,2)")
                        * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
                    ).cast("decimal(28,4)")
                ).cast("double"),
                2,
            ).alias("sum_disc_price"),
        )
        .orderBy("l_returnflag", "l_linestatus")
        .toPandas()
    )
    assert got.reset_index(drop=True).equals(want.reset_index(drop=True))


@pytest.mark.medium
def test_incremental_mv_batch_count_invariant(spark, sf_small):
    """The maintained MV must not depend on how the stream was chunked:
    2 files vs 8 files produce identical state (the property that makes
    exactly-once MERGE maintenance trustworthy)."""
    from wafer_defect_data_pipeline_spark.streaming.mv import maintain_q1_mv

    a = maintain_q1_mv(spark, sf_small, n_files=2).toPandas()
    b = maintain_q1_mv(spark, sf_small, n_files=8).toPandas()
    assert a.reset_index(drop=True).equals(b.reset_index(drop=True))


def test_fan_out_noop_when_parallel_enough(spark, sf_small):
    """fan_out must add a repartition only when the scan under-parallelizes,
    and must be a strict no-op (same plan object) otherwise."""
    from wafer_defect_data_pipeline_spark.functions.partitioning import fan_out

    target = spark.sparkContext.defaultParallelism
    few = spark.read.parquet(f"{sf_small}/documents.parquet")
    if few.rdd.getNumPartitions() < target:
        assert fan_out(few).rdd.getNumPartitions() == target
    many = spark.range(0, 1000, 1, target * 2)
    assert fan_out(many) is many


def test_streaming_left_outer_join_withholds_watermark_tail(spark, sf_small):
    """Left-outer stream-stream join contract: (a) every emitted row exists
    in the batch left join; (b) matched rows all emit; (c) unmatched rows
    older than the final watermark emit with nulls, younger ones are
    withheld."""
    from wafer_defect_data_pipeline_spark.sources import read_table
    from wafer_defect_data_pipeline_spark.streaming.events import (
        run_interval_left_join_stream_batch,
    )

    got = run_interval_left_join_stream_batch(spark, sf_small).toPandas()

    e = read_table(spark, sf_small, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    v = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts"), F.col("event_id").alias("view_id")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
    )
    batch = (
        c.join(
            v,
            F.expr(
                "c_user = v_user AND view_ts <= click_ts AND click_ts <= view_ts + interval 10 minutes"
            ),
            how="leftOuter",
        )
        .groupBy(F.col("c_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("view_id").isNull().cast("long")).alias("n_unmatched"),
        )
        .toPandas()
    )
    m = got.merge(batch, on="user_id", how="right").fillna(0)
    # matched rows (n_rows - n_unmatched) must ALL emit; emitted never exceeds batch
    assert ((m.n_rows_x - m.n_unmatched_emitted) == (m.n_rows_y - m.n_unmatched)).all()
    assert (m.n_unmatched_emitted <= m.n_unmatched).all()
    # somewhere in the corpus both behaviors are exercised
    assert m.n_unmatched_emitted.sum() > 0 or m.n_unmatched.sum() == 0


def test_audio_wav_codec_executes(spark, sf_small):
    """The stdlib RIFF/PCM path executes end-to-end: decoded stats equal the
    fixture's closed-form values (arithmetic-ramp mean; word-aligned chunk
    walk exercised by the codec roundtrip test inline)."""
    import numpy as np

    from wafer_defect_data_pipeline_spark.operators.multimodal import (
        attach_wav_payload,
        decode_audio,
        wav_decode,
        wav_encode,
    )

    s = np.arange(-5, 6, dtype=np.int16)
    rate, arr = wav_decode(wav_encode(s, 22050))
    assert rate == 22050 and (arr[:, 0] == s).all()

    d = read_table(spark, sf_small, "documents").limit(30)
    got = decode_audio(attach_wav_payload(d)).toPandas().sort_values("doc_id")
    ids = got.doc_id.to_numpy()
    n = 100 + ids % 7
    assert (got.n_samples.to_numpy() == n).all()
    assert (got.sample_rate.to_numpy() == 8000 + 4000 * (ids % 3)).all()
    assert got.mean_amp.to_numpy() == pytest.approx(ids % 50 + (n - 1) / 2)
    base = (ids % 50).astype(float)
    rms = np.sqrt(base**2 + base * (n - 1) + (n - 1) * (2 * n - 1) / 6.0)
    assert got.rms_amp.to_numpy() == pytest.approx(rms, abs=1e-4)


def test_video_y4m_codec_executes(spark, sf_small):
    """The Y4M path executes end-to-end: stride-2 sampled frames carry the
    closed-form fixture luma, dims, and count."""
    import numpy as np

    from wafer_defect_data_pipeline_spark.operators.multimodal import (
        attach_y4m_payload,
        decode_video_frames,
        y4m_decode,
        y4m_encode,
    )

    lumas = [np.full((4, 6), 7 + f, dtype=np.uint8) for f in range(5)]
    w, h, out = y4m_decode(y4m_encode(lumas, 6, 4))
    assert (w, h, len(out)) == (6, 4, 5)
    assert all((out[f] == 7 + f).all() for f in range(5))

    d = read_table(spark, sf_small, "documents").limit(30)
    got = decode_video_frames(attach_y4m_payload(d), stride=2).toPandas()
    ids = got.doc_id.to_numpy()
    assert (got.width.to_numpy() == 8 + 2 * (ids % 3)).all()
    assert (got.height.to_numpy() == 6 + 2 * (ids % 2)).all()
    assert (got.frame_idx.to_numpy() % 2 == 0).all()  # stride respected
    assert got.luma_mean.to_numpy() == pytest.approx(ids % 150 + got.frame_idx.to_numpy())
    n_frames = 3 + got.groupby("doc_id").doc_id.first().to_numpy() % 4
    sampled = got.groupby("doc_id").size().to_numpy()
    assert (sampled == (n_frames + 1) // 2).all()


def test_audio_spectrum_fft_executes(spark, sf_small):
    """Real numpy FFTs over real PCM bytes: the detected dominant bin must
    equal the planted tone's cycle count, and peak_hz its exact frequency."""
    from wafer_defect_data_pipeline_spark.operators.multimodal import (
        attach_tone_payload,
        audio_spectrum_stats,
    )

    d = read_table(spark, sf_small, "documents").limit(30)
    got = audio_spectrum_stats(attach_tone_payload(d)).toPandas().sort_values("doc_id")
    ids = got.doc_id.to_numpy()
    assert (got.peak_bin.to_numpy() == 5 + ids % 10).all()
    assert (got.n_samples == 256).all()
    rates = 8000 + 4000 * (ids % 3)
    assert got.peak_hz.to_numpy() == pytest.approx((5 + ids % 10) * rates / 256)


def test_interval_left_join_honors_horizon(spark, sf_small):
    """ADVICE r3: the LEFT OUTER interval join must interpolate its horizon
    parameter into the join condition (it used to hardcode 10 minutes)."""
    from wafer_defect_data_pipeline_spark.streaming.events import (
        interval_left_join_stream,
        read_events_stream,
    )

    v = read_events_stream(spark, sf_small)
    c = read_events_stream(spark, sf_small)
    joined = interval_left_join_stream(v, c, horizon="7 minutes")
    plan = joined._jdf.queryExecution().analyzed().toString()
    assert "INTERVAL '07' MINUTE" in plan, plan
    assert "INTERVAL '10' MINUTE" not in plan  # the previously-hardcoded value


def test_pca_components_orthonormal_and_variance_matches(spark, sf_small):
    import numpy as np

    from wafer_defect_data_pipeline_spark.operators.decomposition import (
        pca_components,
        pca_project,
    )
    from wafer_defect_data_pipeline_spark.sources import read_table

    emb = read_table(spark, sf_small, "embeddings")
    mean, comps, eigs = pca_components(emb, "embedding", dim=64, k=4)
    c = np.asarray(comps)
    # orthonormal axes, eigenvalue-descending
    assert np.allclose(c @ c.T, np.eye(4), atol=1e-8)
    assert eigs == sorted(eigs, reverse=True) and eigs[0] > 0
    # sign convention: largest-|entry| of each component is positive
    for row in c:
        assert row[np.argmax(np.abs(row))] > 0
    # projected variance equals the eigenvalue (population ddof=0)
    proj = pca_project(emb, "vec_id", "embedding", dim=64, k=4).toPandas()
    for k_i, eig in enumerate(eigs, start=1):
        assert abs(proj[f"pc{k_i}"].var(ddof=0) - eig) / eig < 1e-3


def test_covariance_matches_numpy(spark, sf_small):
    import numpy as np

    from wafer_defect_data_pipeline_spark.operators.decomposition import covariance_matrix
    from wafer_defect_data_pipeline_spark.sources import read_table

    emb = read_table(spark, sf_small, "embeddings")
    rows = covariance_matrix(emb, "embedding", dim=64).collect()
    x = np.asarray(
        [list(v) for v in emb.select("embedding").toPandas()["embedding"]], dtype=np.float64
    )
    ref = np.cov(x, rowvar=False, ddof=0)
    got = np.zeros((64, 64))
    for r in rows:
        got[r.i - 1, r.j - 1] = r.cov
        got[r.j - 1, r.i - 1] = r.cov
    assert len(rows) == 64 * 65 // 2
    assert np.allclose(got, ref, atol=1e-10)


def test_prefix_filter_jaccard_matches_bruteforce(spark, sf_small):
    from pyspark.sql import functions as F

    from wafer_defect_data_pipeline_spark.operators.dedup import (
        jaccard_pairs,
        prefix_filter_jaccard_pairs,
    )
    from wafer_defect_data_pipeline_spark.sources import read_table

    d = read_table(spark, sf_small, "documents").select("doc_id", "text").limit(120)
    planted = (
        d.filter(F.col("doc_id") % 10 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" zz")))
    )
    both = d.unionByName(planted)
    fast = prefix_filter_jaccard_pairs(both, "doc_id", "text", threshold=0.6)
    brute = jaccard_pairs(
        both.withColumn("one", F.lit(1)), "doc_id", "text", "one", threshold=0.6
    )
    f = {(r.id_a, r.id_b): r.jaccard for r in fast.collect()}
    b = {(r.id_a, r.id_b): r.jaccard for r in brute.collect()}
    assert f == b  # completeness AND exactness of the prefix-filtered join
    assert len(f) >= 12  # planted twins found


def test_zonemap_prunes_files_and_preserves_answer(spark, sf_small, tmp_path):
    import datetime

    from pyspark.sql import functions as F

    from wafer_defect_data_pipeline_spark.operators.layout import (
        build_zonemap,
        zonemap_pruned_read,
    )
    from wafer_defect_data_pipeline_spark.sources import read_table

    li = read_table(spark, sf_small, "lineitem").select("l_shipdate", "l_extendedprice")
    path = str(tmp_path / "clustered")
    li.repartitionByRange(8, "l_shipdate").write.parquet(path)
    zm = build_zonemap(spark, path, ["l_shipdate"])
    assert zm.count() == 8  # one stats row per file
    lo = datetime.datetime(1995, 1, 1)
    hi = datetime.datetime(1995, 6, 30, 23, 59, 59, 999999)
    pruned, kept, total = zonemap_pruned_read(spark, path, zm, "l_shipdate", lo, hi)
    assert total == 8 and 0 < kept < total  # skipping actually skipped
    expect = li.filter(F.col("l_shipdate").between(F.lit(lo), F.lit(hi)))
    assert pruned.count() == expect.count()
    assert pruned.agg(F.sum("l_extendedprice")).first()[0] == (
        expect.agg(F.sum("l_extendedprice")).first()[0]
    )
    # disjoint window entirely outside the data -> zero files, empty result
    out, kept0, _ = zonemap_pruned_read(
        spark, path, zm, "l_shipdate",
        datetime.datetime(2050, 1, 1), datetime.datetime(2050, 12, 31),
    )
    assert kept0 == 0 and out.count() == 0


def test_bloom_runtime_filter_injects_and_matches_plain_join(spark, sf_small):
    from pyspark.sql import functions as F

    from wafer_defect_data_pipeline_spark.operators.skew import bloom_runtime_filtered_join
    from wafer_defect_data_pipeline_spark.sources import read_table

    li = read_table(spark, sf_small, "lineitem").select("l_orderkey", "l_extendedprice")
    sel = read_table(spark, sf_small, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    # plan shape: under the pinned confs the fact scan carries might_contain
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        j = li.join(sel, li.l_orderkey == sel.o_orderkey)
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)
    # the helper itself: plans in a cloned session (caller confs untouched,
    # no global mutation window for concurrent queries), and its own
    # optimized plan carries the injected Bloom filter
    got = bloom_runtime_filtered_join(spark, li, sel, "l_orderkey", "o_orderkey")
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == old[
        "spark.sql.autoBroadcastJoinThreshold"
    ]
    assert "might_contain" in got._jdf.queryExecution().optimizedPlan().toString()
    assert got.sparkSession is not spark  # clone-bound, shared SparkContext
    plain = li.join(sel, li.l_orderkey == sel.o_orderkey)
    assert got.count() == plain.count()
    dec = F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
    assert got.agg(dec).first()[0] == plain.agg(dec).first()[0]


def test_misra_gries_guarantee_and_partition_invariance(spark, sf_small):
    """MG contract vs exact counts: <= k counters, every counter
    under-counts by at most max_deficit, every value with true frequency
    > max_deficit is present. Content-keyed segmentation makes the result
    partitioning-invariant (unlike a per-batch imperative MG)."""
    from pyspark.sql import functions as F

    from wafer_defect_data_pipeline_spark.operators.sketches import misra_gries_summary
    from wafer_defect_data_pipeline_spark.sources import read_table

    d = read_table(spark, sf_small, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term"),
    )
    out = misra_gries_summary(tok, "term", "doc_id", k=16, n_groups=4).toPandas()
    assert 0 < len(out) <= 16
    deficit = int(out.max_deficit.iloc[0])
    exact = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c")).toPandas()
    j = out.merge(exact, on="term")
    assert len(j) == len(out)  # every emitted term exists
    assert ((j.c - j.mg_estimate) >= 0).all()  # never over-counts
    assert ((j.c - j.mg_estimate) <= deficit).all()  # bounded under-count
    heavy = set(exact[exact.c > deficit].term)
    assert heavy <= set(out.term)  # no heavy hitter missed
    # partitioning must not change a single counter
    out2 = misra_gries_summary(
        tok.repartition(17), "term", "doc_id", k=16, n_groups=4
    ).toPandas()
    a = out.sort_values(["term"]).reset_index(drop=True)
    b = out2.sort_values(["term"]).reset_index(drop=True)
    assert a.equals(b)


def test_cms_never_undercounts_and_is_tight_for_top_terms(spark, sf_small):
    from pyspark.sql import functions as F

    from wafer_defect_data_pipeline_spark.operators.sketches import (
        cms_build,
        cms_point_estimate,
    )
    from wafer_defect_data_pipeline_spark.sources import read_table

    d = read_table(spark, sf_small, "documents").filter(F.trim("text") != "")
    tok = d.select(F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("t"))
    exact = {r.t: r.n for r in tok.groupBy("t").agg(F.count(F.lit(1)).alias("n")).collect()}
    sketch = cms_build(tok, "t", depth=4, width=256)
    probes = spark.createDataFrame([(t,) for t in list(exact)[:50]], "probe string")
    est = {
        r.probe: r.est_count
        for r in cms_point_estimate(sketch, probes, "probe", depth=4, width=256).collect()
    }
    n_total = sum(exact.values())
    for t, e in est.items():
        assert e >= exact[t]  # CMS one-sided error guarantee
        assert e - exact[t] <= 3 * n_total / 256  # ~eN/w overcount bound, slack 3x


def test_kmv_estimate_within_relative_error(spark, sf_small):
    from pyspark.sql import functions as F

    from wafer_defect_data_pipeline_spark.operators.sketches import kmv_distinct_estimate
    from wafer_defect_data_pipeline_spark.sources import read_table

    li = read_table(spark, sf_small, "lineitem")
    est = {
        r.l_returnflag: r.est_distinct
        for r in kmv_distinct_estimate(li, "l_returnflag", "l_partkey", k=64).collect()
    }
    exact = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    for g, e in est.items():
        assert abs(e - exact[g]) / exact[g] < 0.5  # 1/sqrt(64)=12.5% expected; generous gate
    # exactness below k: a group with < k distinct values returns the exact count
    small = li.filter(F.col("l_partkey") < 40)
    se = {
        r.l_returnflag: r.est_distinct
        for r in kmv_distinct_estimate(small, "l_returnflag", "l_partkey", k=64).collect()
    }
    sx = {
        r.l_returnflag: r.n
        for r in small.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    assert se == {g: float(v) for g, v in sx.items()}


def test_triangle_count_known_graphs(spark):
    from wafer_defect_data_pipeline_spark.operators.graph import triangle_count

    def tc(edges):
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        return triangle_count(df).first().n_triangles

    # K4 has 4 triangles; reversed/duplicated edges must not change it
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    assert tc(k4) == 4
    assert tc(k4 + [(b, a) for a, b in k4]) == 4
    # path graph: none; triangle with a pendant: exactly one
    assert tc([(0, 1), (1, 2), (2, 3)]) == 0
    assert tc([(0, 1), (1, 2), (0, 2), (2, 3)]) == 1
    # two disjoint triangles
    assert tc([(0, 1), (1, 2), (0, 2), (10, 11), (11, 12), (10, 12)]) == 2


def test_dq_audit_null_predicate_counts_as_violation(spark):
    from pyspark.sql import functions as F

    from wafer_defect_data_pipeline_spark.operators.quality import (
        dq_audit,
        uniqueness_violations,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, -1.0), (3, 5.0)], "id long, v double"
    )
    out = {
        r.rule: (r.violations, r.checked)
        for r in dq_audit(df, {"v_positive": F.col("v") > 0}, unique_keys=[["id"]]).collect()
    }
    # null v -> violation (unknown is not proof of quality); -1 -> violation
    assert out["v_positive"] == (2, 4)
    assert out["unique(id)"] == (1, 4)
    # null keys group together for uniqueness, like groupBy semantics
    dfn = spark.createDataFrame([(None, 1), (None, 2), (1, 3)], "id long, x long")
    u = uniqueness_violations(dfn, ["id"]).first()
    assert (u.violations, u.checked) == (1, 3)
    # empty rule set: a uniqueness/RI-only audit must work, not die in
    # stack(0, ...) analysis
    from wafer_defect_data_pipeline_spark.operators.quality import predicate_audit

    empty = predicate_audit(df, {})
    assert empty.columns == ["rule", "violations", "checked"]
    assert empty.count() == 0
    only_unique = {
        r.rule: (r.violations, r.checked)
        for r in dq_audit(df, {}, unique_keys=[["id"]]).collect()
    }
    assert only_unique == {"unique(id)": (1, 4)}


def test_cms_join_size_overestimates_within_additive_bound(spark, sf_small):
    from pyspark.sql import functions as F

    from wafer_defect_data_pipeline_spark.operators.sketches import (
        cms_build,
        cms_inner_product,
    )
    from wafer_defect_data_pipeline_spark.sources import read_table

    w = 65536
    li = read_table(spark, sf_small, "lineitem").select(F.col("l_orderkey").alias("k"))
    o = read_table(spark, sf_small, "orders").select(F.col("o_orderkey").alias("k"))
    est = cms_inner_product(
        cms_build(li, "k", depth=4, width=w), cms_build(o, "k", depth=4, width=w)
    ).first().est_join_size
    exact = li.join(o, "k").count()
    n1, n2 = li.count(), o.count()
    assert est >= exact  # inner product only over-counts
    assert est - exact <= 3 * n1 * n2 / w  # additive n1*n2/w bound, slack 3x


def test_bpe_encode_hand_computed(spark, sf_small):
    from wafer_defect_data_pipeline_spark.functions.udfs import (
        bpe_encode_word,
        bpe_token_stats,
    )

    merges = [("t", "h"), ("th", "e"), ("i", "n"), ("in", "g")]
    ranks = {p: i for i, p in enumerate(merges)}
    # 'the' -> t+h first (rank 0), then th+e (rank 1) -> one token
    assert bpe_encode_word("the", ranks) == ["the"]
    # 'thing' -> th (0), in (2), ing (3) -> ['th', 'ing']
    assert bpe_encode_word("thing", ranks) == ["th", "ing"]
    # no applicable merges -> characters
    assert bpe_encode_word("zzz", ranks) == ["z", "z", "z"]
    # priority order matters: lowest rank merges first even if later pair
    # appears earlier in the word
    assert bpe_encode_word("inthe", ranks) == ["in", "the"]
    # Spark path agrees with the local function
    df = spark.createDataFrame([(1, "the thing"), (2, ""), (3, None)],
                               "doc_id long, text string")
    rows = {r.doc_id: (r.n_bpe_tokens, r.mean_token_len)
            for r in bpe_token_stats(df, "doc_id", "text", merges).collect()}
    assert rows[1] == (3, round((3 + 2 + 3) / 3, 6))  # ['the'] + ['th','ing']
    assert rows[2] == (0, 0.0) and rows[3] == (0, 0.0)


def test_star_cc_matches_propagation_and_survives_long_chain(spark):
    from wafer_defect_data_pipeline_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    def comp(fn, edges, **kw):
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        return {r.id: r.component for r in fn(df, **kw).collect()}

    # mixed graph: two clusters, a chain, a singleton pair, a self-loop
    edges = [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10), (20, 21), (30, 30)]
    assert comp(connected_components_star, edges) == comp(connected_components, edges)
    # 64-node path: diameter 63 — propagation's default 25 rounds CANNOT
    # finish, the star rewrites converge in O(log n) alternations
    chain = [(i, i + 1) for i in range(63)]
    got = comp(connected_components_star, chain, max_iter=12)
    assert got == {i: 0 for i in range(64)}
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="not converged|did not converge"):
        comp(connected_components, chain)  # default max_iter=25 < diameter


def test_nsw_graph_ann_recall_vs_exact(spark, sf_small):
    """Graph ANN must be a real approximation: recall@5 vs the exact
    integer-L2 top-5 above a floor, and every reported neighbor distance
    must be the true integer L2 (search re-scores candidates exactly, so
    only the candidate SET is approximate)."""
    from wafer_defect_data_pipeline_spark.operators.graph_ann import knn_graph, nsw_search
    from wafer_defect_data_pipeline_spark.operators.quantization import exact_int_l2_topk

    e = read_table(spark, sf_small, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    g = knn_graph(e, dim=64, k_build=8, n_probe=2)
    approx = nsw_search(g, e, q, dim=64, beam_width=8, n_hops=3, k_top=5).toPandas()
    exact = exact_int_l2_topk(e, q, "vec_id", "embedding", dim=64, k_top=5).toPandas()
    exact_map = exact.groupby("query_id").apply(
        lambda s: set(s.corpus_id), include_groups=False
    )
    hits = total = 0
    for qid, s in approx.groupby("query_id"):
        hits += len(set(s.corpus_id) & exact_map[qid])
        total += len(exact_map[qid])
    assert total > 0 and hits / total >= 0.5, f"recall {hits}/{total}"
    # distances are exact for the ids reported
    ed = {(r.query_id, r.corpus_id): r.l2_dist for r in exact.itertuples()}
    for r in approx.itertuples():
        if (r.query_id, r.corpus_id) in ed:
            assert r.l2_dist == ed[(r.query_id, r.corpus_id)]


def test_aqe_skew_join_split_fires_on_hot_key(spark):
    """AQE's skew-join rule must actually split the hot partition on a
    Zipf-shaped key when the detector thresholds are scaled to the data
    (tools/bench_skew.py uses the same knobs at bench scale). Asserted on
    the executed adaptive plan: the sort-merge join is marked skew=true."""
    import pandas as pd

    clone = spark.newSession()
    clone.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    clone.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    clone.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256k")
    clone.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128k")
    import numpy as np

    n_hot, n_rest = 200_000, 100_000
    # v must be incompressible: AQE decides skew on COMPRESSED shuffle-block
    # sizes, and a constant column deflates the hot partition below any
    # threshold (the original form of this test never fired for that reason)
    rng = np.random.default_rng(11)
    fact = clone.createDataFrame(pd.DataFrame({
        "key": [0] * n_hot + list(range(1, n_rest + 1)),
        "v": rng.uniform(0, 1, n_hot + n_rest),
    }))
    dim = clone.createDataFrame(pd.DataFrame({
        "key": list(range(0, n_rest + 1)),
        "cat": [f"c{k % 10}" for k in range(n_rest + 1)],
    }))
    joined = fact.join(dim, "key").groupBy("cat").sum("v")
    # execute THIS DataFrame's own QueryExecution so the adaptive plan we
    # inspect is the final one (count() would plan a separate query)
    assert len(joined.collect()) == 10
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan[:500]
    assert "skew=true" in plan, plan[:2000]


def test_auto_cc_picks_right_algorithm_on_both_shapes(spark):
    """auto = budgeted-propagation probe with star fallback: on a short-
    diameter graph it must return propagation's map (probe converges); on a
    64-node path (diameter 63 > probe budget) it must fall back to star and
    still produce the correct components instead of raising."""
    from wafer_defect_data_pipeline_spark.operators.graph import (
        connected_components,
        connected_components_auto,
    )

    def comp(fn, edges, **kw):
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        return {r.id: r.component for r in fn(df, **kw).collect()}

    edges = [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10), (20, 21), (30, 30)]
    assert comp(connected_components_auto, edges) == comp(connected_components, edges)
    chain = [(i, i + 1) for i in range(63)]
    assert comp(connected_components_auto, chain, probe_rounds=4, max_iter=12) == {
        i: 0 for i in range(64)
    }


def test_session2_ops_invariant_to_shuffle_partitions(spark, sf_small):
    """The session-2 operators (prefix join, covariance, sketches,
    triangles, DQ audit) must produce identical results under a different
    shuffle-partition count — catches any accidental dependence on
    physical partitioning (e.g. partial-sum rounding, per-partition ids)."""
    from wafer_defect_data_pipeline_spark.plans.registry import all_queries

    names = [
        "dedup_prefix_jaccard_pairs",
        "embedding_covariance",
        "sketch_kmv_distinct",
        "sketch_cms_frequency",
        "graph_triangle_count",
        "dq_audit_lineitem",
    ]
    qs = all_queries()
    base = {n: qs[n](spark, sf_small).toPandas() for n in names}
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        for n in names:
            other = qs[n](spark, sf_small).toPandas()
            assert base[n].equals(other), n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_prefix_filter_jaccard_edge_cases(spark):
    from pyspark.sql import functions as F

    from wafer_defect_data_pipeline_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    # empty corpus and all-blank corpus -> no pairs, no crash
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert prefix_filter_jaccard_pairs(empty, "doc_id", "text").count() == 0
    blank = spark.createDataFrame([(1, ""), (2, "   ")], "doc_id long, text string")
    assert prefix_filter_jaccard_pairs(blank, "doc_id", "text").count() == 0
    # single doc -> no pairs
    one = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    assert prefix_filter_jaccard_pairs(one, "doc_id", "text").count() == 0
    # identical docs -> every pair at jaccard 1.0 (full clique)
    same = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(4)], "doc_id long, text string"
    )
    rows = prefix_filter_jaccard_pairs(same, "doc_id", "text", threshold=0.9).collect()
    assert len(rows) == 6 and all(r.jaccard == 1.0 for r in rows)
    # threshold 1.0: only exact set matches survive
    mixed = same.unionByName(
        spark.createDataFrame([(99, "alpha beta gamma epsilon")], "doc_id long, text string")
    )
    exact = prefix_filter_jaccard_pairs(mixed, "doc_id", "text", threshold=1.0)
    assert exact.filter(F.col("id_a") == 99).count() == 0
    assert exact.filter(F.col("id_b") == 99).count() == 0
    assert exact.count() == 6


def test_prefix_filter_jaccard_ieee_ceil_boundary(spark):
    """A pair at EXACTLY the threshold must survive even when
    threshold*size rounds just above an integer in IEEE double
    (0.55*100 = 55.000000000000007, so a raw ceil gives 56 where exact
    arithmetic gives 55 — over-pruning the size filter and shortening the
    prefix by one). |a|=100, b subset of a with |b|=55: J = 55/100 = 0.55."""
    from wafer_defect_data_pipeline_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    words = [f"w{i:03d}" for i in range(100)]
    docs = spark.createDataFrame(
        [(1, " ".join(words)), (2, " ".join(words[:55]))],
        "doc_id long, text string",
    )
    rows = prefix_filter_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.55, shingle_k=1
    ).collect()
    assert len(rows) == 1
    assert rows[0].id_a == 1 and rows[0].id_b == 2
    assert abs(rows[0].jaccard - 0.55) < 1e-9


def test_zca_whitening_unit_variance_and_decorrelation(spark, sf_small):
    import numpy as np

    from wafer_defect_data_pipeline_spark.operators.decomposition import (
        pca_components,
        zca_whiten,
    )
    from wafer_defect_data_pipeline_spark.sources import read_table

    emb = read_table(spark, sf_small, "embeddings")
    out = zca_whiten(emb, "vec_id", "embedding", dim=64).toPandas()
    y = np.asarray([list(v) for v in out["white"]])
    cov = np.cov(y, rowvar=False, ddof=0)
    # unit variance on every axis, (near-)zero cross-covariance
    assert np.allclose(np.diag(cov), 1.0, atol=1e-2)
    off = cov - np.diag(np.diag(cov))
    assert np.abs(off).max() < 1e-2
    # empty corpus raises a clear error instead of StopIteration
    import pytest as _pytest

    empty = emb.filter("vec_id < 0")
    with _pytest.raises(ValueError, match="empty corpus"):
        pca_components(empty, "embedding", dim=64, k=2)


def test_bpe_learn_merges_classic_example(spark):
    from wafer_defect_data_pipeline_spark.functions.udfs import bpe_learn_merges

    # the canonical BPE corpus: 'low'x5 'lower'x2 'newest'x6 'widest'x3
    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    df = spark.createDataFrame([(text,)], "text string")
    merges = bpe_learn_merges(df, "text", n_merges=4)
    # round 1: 'e'+'s' appears in newest(6) + widest(3) = 9 — the max
    assert merges[0] == ("e", "s", 9)
    # round 2: 'es'+'t' = 9
    assert merges[1] == ("es", "t", 9)
    # round 3: 'l'+'o' in low(5) + lower(2) = 7
    assert merges[2] == ("l", "o", 7)
    # round 4: 'lo'+'w' = 7
    assert merges[3] == ("lo", "w", 7)


def test_pq_codebook_vectors_encode_to_themselves(spark, sf_small):
    # Codebook centroids ARE the subvectors of vec_id < k, so those
    # vectors must self-assign in every subspace with zero error.
    from wafer_defect_data_pipeline_spark.operators.quantization import (
        pq_codebook,
        pq_encode,
    )

    e = read_table(spark, sf_small, "embeddings")
    cb = pq_codebook(e, "vec_id", "embedding", dim=64, k=16)
    codes = pq_encode(e, cb, "vec_id", "embedding", dim=64).toPandas()
    own = codes[codes.id < 16]
    assert (own.code == own.id).all()
    assert (own.d == 0).all()
    # every (vector, subspace) got exactly one code
    n = e.count()
    assert len(codes) == n * 8


def test_pq_lloyd_step_never_increases_error(spark, sf_small):
    from wafer_defect_data_pipeline_spark.operators.quantization import (
        pq_codebook,
        pq_encode,
        pq_lloyd_refine,
    )

    e = read_table(spark, sf_small, "embeddings")
    cb0 = pq_codebook(e, "vec_id", "embedding", dim=64, k=16)
    err0 = pq_encode(e, cb0, "vec_id", "embedding", dim=64).agg(F.sum("d")).first()[0]
    cb1 = pq_lloyd_refine(e, cb0, "vec_id", "embedding", dim=64)
    err1 = pq_encode(e, cb1, "vec_id", "embedding", dim=64).agg(F.sum("d")).first()[0]
    assert err1 <= err0
    # codebook shape is preserved: same (code, s, j) key set
    assert cb1.count() == cb0.count()


def test_pq_adc_matches_exact_when_vectors_are_centroids(spark):
    # A corpus consisting ONLY of the codebook vectors quantizes with
    # zero error, so ADC distance == exact integer L2 and the top-k sets
    # must coincide.
    from wafer_defect_data_pipeline_spark.operators.quantization import (
        exact_int_l2_topk,
        pq_adc_topk,
        pq_codebook,
        pq_distance_table,
        pq_encode,
    )

    e = read_table(spark, "/root/testdata/sf0.001", "embeddings").filter(
        F.col("vec_id") < 16
    )
    cb = pq_codebook(e, "vec_id", "embedding", dim=64, k=16)
    codes = pq_encode(e, cb, "vec_id", "embedding", dim=64)
    q = e.filter(F.col("vec_id") < 4)
    dt = pq_distance_table(q, cb, "vec_id", "embedding", dim=64)
    adc = pq_adc_topk(codes, dt, k_top=3).toPandas()
    exact = exact_int_l2_topk(e, q, "vec_id", "embedding", dim=64, k_top=3).toPandas()
    a = adc.sort_values(["query_id", "rank"]).reset_index(drop=True)
    x = exact.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert (a.corpus_id == x.corpus_id).all()
    assert (a.adc_dist.values == x.l2_dist.values).all()


def test_pq_codes_invariant_to_partitioning(spark, sf_small):
    from wafer_defect_data_pipeline_spark.operators.quantization import (
        pq_codebook,
        pq_encode,
    )

    e = read_table(spark, sf_small, "embeddings")
    cb = pq_codebook(e, "vec_id", "embedding", dim=64, k=16)
    one = pq_encode(e, cb, "vec_id", "embedding", dim=64).toPandas()
    many = pq_encode(e.repartition(13), cb, "vec_id", "embedding", dim=64).toPandas()
    key = ["id", "s"]
    one = one.sort_values(key).reset_index(drop=True)
    many = many.sort_values(key).reset_index(drop=True)
    assert (one.code.values == many.code.values).all()
    assert (one.d.values == many.d.values).all()


def test_kmv_threshold_prune_no_false_negatives(spark, sf_small):
    # The 1.5x-margin sketch gate must not drop any group whose exact
    # distinct count clears the threshold (checked against the direct
    # single-phase computation), and every emitted profile is exact.
    from wafer_defect_data_pipeline_spark.operators.sketches import (
        kmv_distinct_estimate,
    )

    T = 40  # sf0.001 parts span 17-47 distinct orders: the T/1.5 gate bites
    li = read_table(spark, sf_small, "lineitem")
    est = kmv_distinct_estimate(li, "l_partkey", "l_orderkey", k=32)
    surv = est.filter(F.col("est_distinct") >= T / 1.5)
    two_phase = (
        li.join(F.broadcast(surv.select("l_partkey")), "l_partkey")
        .groupBy("l_partkey")
        .agg(F.countDistinct("l_orderkey").alias("dv"))
        .filter(F.col("dv") >= T)
        .toPandas()
    )
    direct = (
        li.groupBy("l_partkey")
        .agg(F.countDistinct("l_orderkey").alias("dv"))
        .filter(F.col("dv") >= T)
        .toPandas()
    )
    assert set(two_phase.l_partkey) == set(direct.l_partkey)
    merged = two_phase.merge(direct, on="l_partkey", suffixes=("_2p", "_d"))
    assert (merged.dv_2p == merged.dv_d).all()
    # and the gate actually prunes something at this threshold
    assert surv.count() < est.count()


def test_minhash_probe_finds_planted_and_rejects_novel(spark, sf_small):
    from wafer_defect_data_pipeline_spark.operators.dedup import (
        minhash_lsh_probe,
        minhash_signatures,
    )

    d = read_table(spark, sf_small, "documents")
    index_sigs = minhash_signatures(d, "doc_id", "text")
    near = (
        d.filter(F.col("doc_id") % 10 == 0)
        .withColumn("doc_id", F.col("doc_id") + 2_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" tail")))
    )
    novel = (
        d.filter(F.col("doc_id") % 10 == 5)
        .withColumn("doc_id", F.col("doc_id") + 2_000_000)
        .withColumn(
            "text",
            F.concat(F.lit("novel "), F.col("doc_id").cast("string"), F.lit(" qqq")),
        )
    )
    out = minhash_lsh_probe(
        near.unionByName(novel), index_sigs, "doc_id", "text", threshold=0.4
    ).toPandas()
    planted = set(range(0, 200, 10))
    self_hits = {
        a - 2_000_000 for a, b in zip(out.new_id, out.index_id) if a - 2_000_000 == b
    }
    assert len(planted - self_hits) / len(planted) <= 0.1  # >= 90% recall
    novel_ids = {i + 2_000_000 for i in range(5, 200, 10)}
    assert not (set(out.new_id) & novel_ids), "novel docs must not match the index"


def test_minhash_probe_agrees_with_self_join_pairs(spark, sf_small):
    # Probing a batch against an index built from a disjoint corpus must
    # produce exactly the cross pairs the self-join variant finds on the
    # union (restricted to one side in the batch, one in the corpus).
    from wafer_defect_data_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_probe,
        minhash_signatures,
    )

    d = read_table(spark, sf_small, "documents").limit(100)
    corpus = d.filter(F.col("doc_id") < 50)
    batch = (
        d.filter(F.col("doc_id") < 30)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" x")))
    )
    probe = minhash_lsh_probe(
        batch, minhash_signatures(corpus, "doc_id", "text"), "doc_id", "text",
        threshold=0.4,
    ).toPandas()
    union_pairs = minhash_lsh_pairs(
        corpus.unionByName(batch), "doc_id", "text", threshold=0.4
    ).toPandas()
    cross = union_pairs[(union_pairs.id_a < 1_000_000) & (union_pairs.id_b >= 1_000_000)]
    got = {(b, a) for a, b in zip(cross.id_a, cross.id_b)}
    want = set(zip(probe.new_id, probe.index_id))
    assert got == want


def test_mmr_rerank_selection_invariants(spark, sf_small):
    from wafer_defect_data_pipeline_spark.plans.registry import _REGISTRY, _load_all

    _load_all()
    out = _REGISTRY["rag_rerank_mmr"].fn(spark, sf_small).toPandas()
    assert list(out.sel_rank) == [1, 2, 3]
    # selected chunks are pairwise distinct
    keys = set(zip(out.doc_id, out.chunk_idx))
    assert len(keys) == 3
    # step-1 pick is the relevance argmax: its mmr_score is 0.7 * bm25
    top = out[out.sel_rank == 1].iloc[0]
    assert abs(top.mmr_score - round(0.7 * top.bm25, 6)) < 1e-9
    # later picks pay a diversity penalty: mmr_score <= 0.7 * bm25
    rest = out[out.sel_rank > 1]
    assert (rest.mmr_score <= 0.7 * rest.bm25 + 1e-9).all()


def test_greedy_nosplit_invariants(spark, sf_small):
    from wafer_defect_data_pipeline_spark.operators.packing import pack_greedy_nosplit

    d = read_table(spark, sf_small, "documents")
    packed = pack_greedy_nosplit(d, "source", "doc_id", "n_chars", seq_len=2048)
    pdf = packed.toPandas().sort_values(["source", "doc_id"]).reset_index(drop=True)
    # every document appears exactly once with its columns intact
    assert len(pdf) == d.count()
    # no multi-doc pack exceeds the budget (oversized docs sit alone)
    sums = pdf.groupby(["source", "pack_id"]).agg(
        n=("doc_id", "size"), tot=("n_chars", "sum")
    )
    assert (sums[sums.n >= 2].tot <= 2048).all()
    # pack ids are dense and non-decreasing in doc order within a shard
    for _, g in pdf.groupby("source"):
        ids = list(g.pack_id)
        assert ids[0] == 0
        assert all(b - a in (0, 1) for a, b in zip(ids, ids[1:]))
    # greedy is tight: a doc only opens a new pack when it truly overflows
    for _, g in pdf.groupby("source"):
        fill = None
        for n, pid, prev_pid in zip(g.n_chars, g.pack_id, [None] + list(g.pack_id)[:-1]):
            if prev_pid is None or pid != prev_pid:
                if fill is not None:
                    assert fill + n > 2048  # the overflow that forced the break
                fill = n
            else:
                fill += n


def test_greedy_nosplit_partition_invariant(spark, sf_small):
    from wafer_defect_data_pipeline_spark.operators.packing import pack_greedy_nosplit

    d = read_table(spark, sf_small, "documents")
    one = pack_greedy_nosplit(d, "source", "doc_id", "n_chars", 2048).toPandas()
    many = pack_greedy_nosplit(d.repartition(17), "source", "doc_id", "n_chars", 2048).toPandas()
    key = ["source", "doc_id"]
    one = one.sort_values(key).reset_index(drop=True)
    many = many.sort_values(key).reset_index(drop=True)
    assert (one.pack_id.values == many.pack_id.values).all()


def test_drift_psi_nonnegative_and_covers_all_types(spark, sf_small):
    # Each PSI bin term (q - p) * ln(q / p) has matching signs, so the sum
    # is mathematically >= 0; smoothing keeps every term finite.
    from wafer_defect_data_pipeline_spark.plans.registry import _REGISTRY, _load_all

    _load_all()
    out = _REGISTRY["events_drift_psi"].fn(spark, sf_small).toPandas()
    assert (out.psi >= 0).all()
    assert out.psi.notna().all()
    types = read_table(spark, sf_small, "events").select("event_type").distinct().count()
    assert len(out) == types


def test_basket_lift_matches_pandas_replica(spark, sf_small):
    import pandas as pd

    from wafer_defect_data_pipeline_spark.plans.registry import _REGISTRY, _load_all

    _load_all()
    out = _REGISTRY["basket_part_pairs_lift"].fn(spark, sf_small).toPandas()
    li = pd.read_parquet(f"{sf_small}/lineitem.parquet")[
        ["l_orderkey", "l_partkey"]
    ].drop_duplicates()
    n_orders = li.l_orderkey.nunique()
    item = li.groupby("l_partkey").size()
    m = li.merge(li, on="l_orderkey")
    m = m[m.l_partkey_x < m.l_partkey_y]
    cnt = m.groupby(["l_partkey_x", "l_partkey_y"]).size()
    cnt = cnt[cnt >= 3]
    rep = cnt.reset_index(name="n_ab")
    rep["lift"] = round(
        rep.n_ab * n_orders / (item[rep.l_partkey_x].values * item[rep.l_partkey_y].values),
        6,
    )
    rep = rep.sort_values(
        ["lift", "l_partkey_x", "l_partkey_y"], ascending=[False, True, True]
    ).head(10)
    assert list(out.pa) == list(rep.l_partkey_x)
    assert list(out.pb) == list(rep.l_partkey_y)
    assert list(out.n_ab) == list(rep.n_ab)


def test_seasonal_backtest_covers_every_eval_row(spark, sf_small):
    # Three training weeks cover all seven weekdays, so the forecast join
    # must not drop a single eval-week row; MAE is nonnegative by shape.
    from wafer_defect_data_pipeline_spark.plans.registry import _REGISTRY, _load_all

    _load_all()
    out = _REGISTRY["events_seasonal_backtest"].fn(spark, sf_small).toPandas()
    e = read_table(spark, sf_small, "events")
    ts = F.col("ts").cast("timestamp")
    expected = e.filter(
        (ts >= F.lit("2024-01-22").cast("timestamp"))
        & (ts < F.lit("2024-01-29").cast("timestamp"))
    ).count()
    assert int(out.n_eval.sum()) == expected
    assert (out.mae >= 0).all()


def test_k_core_known_graphs(spark):
    from wafer_defect_data_pipeline_spark.operators.graph import k_core

    # K4 clique (3-core) with a pendant chain hanging off node 0: the chain
    # and its attachment never survive 3-core peeling; the clique does.
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    chain = [(0, 10), (10, 11), (11, 12)]
    edges = spark.createDataFrame(k4 + chain, "id_a long, id_b long")
    out = k_core(edges, k=3).toPandas().sort_values("id")
    assert list(out.id) == [0, 1, 2, 3]
    assert list(out.core_degree) == [3, 3, 3, 3]
    # 2-core of a triangle with a tail: triangle survives, tail peels off
    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "id_a long, id_b long"
    )
    out2 = k_core(tri, k=2).toPandas().sort_values("id")
    assert list(out2.id) == [1, 2, 3]
    # no 4-core exists in the triangle: empty result, no crash
    assert k_core(tri, k=4).count() == 0
    # cascade test: peeling must iterate (node 4 only drops after 5 does)
    # k=2 on path 1-2-3-4-5: everything peels, in waves from the ends
    path = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a long, id_b long"
    )
    assert k_core(path, k=2).count() == 0


def test_skew_diagnosis_matches_pandas_replica(spark, sf_small):
    import numpy as np
    import pandas as pd

    from wafer_defect_data_pipeline_spark.plans.registry import _REGISTRY, _load_all

    _load_all()
    out = _REGISTRY["skew_key_diagnosis"].fn(spark, sf_small).toPandas()
    li = pd.read_parquet(f"{sf_small}/lineitem.parquet")
    for _, row in out.iterrows():
        c = li.groupby(row.key_col).size().sort_values().values
        n, tot = len(c), c.sum()
        i = np.arange(1, n + 1)
        gini = 2.0 * (i * c).sum() / (n * tot) - (n + 1.0) / n
        assert row.n_keys == n and row.total_rows == tot
        assert abs(row.top1_share - round(c.max() / tot, 6)) < 1e-9
        assert abs(row.top10_share - round(np.sort(c)[-10:].sum() / tot, 6)) < 1e-9
        assert abs(row.gini - round(gini, 6)) < 1e-9


def test_containment_finds_planted_wrappers(spark, sf_small):
    from wafer_defect_data_pipeline_spark.plans.registry import _REGISTRY, _load_all

    _load_all()
    out = _REGISTRY["text_containment_pairs"].fn(spark, sf_small).toPandas()
    planted = out[(out.container_id - 3_000_000) == out.contained_id]
    n_expected = len(range(0, 500, 25))
    assert len(planted) == n_expected  # every original contained in its wrapper
    # a wrapped copy contains the original completely: containment == 1.0
    assert (planted.containment == 1.0).all()
    assert (out.containment >= 0.9).all()


def test_length_bucketing_never_loses_to_arrival(spark, sf_small):
    # Sorted contiguous grouping minimizes the sum of per-batch maxima over
    # all fixed-size partitions, so its padded total can never exceed the
    # arrival-order strategy's; real token mass is identical by definition.
    from wafer_defect_data_pipeline_spark.plans.registry import _REGISTRY, _load_all

    _load_all()
    out = _REGISTRY["pack_length_bucketing_waste"].fn(spark, sf_small).toPandas()
    a = out[out.strategy == "arrival"].iloc[0]
    s = out[out.strategy == "length_sorted"].iloc[0]
    assert a.real_tokens == s.real_tokens
    assert s.padded_tokens <= a.padded_tokens
    assert s.waste_pct <= a.waste_pct
    assert a.n_batches == s.n_batches


def test_new_operator_edge_cases(spark):
    import pytest as _pytest

    from wafer_defect_data_pipeline_spark.operators.packing import pack_greedy_nosplit
    from wafer_defect_data_pipeline_spark.operators.quantization import pq_codebook
    from wafer_defect_data_pipeline_spark.operators.graph import k_core

    # PQ: dimension must split evenly into subspaces
    e = spark.createDataFrame([(0, [0.1] * 64)], "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError, match="not divisible"):
        pq_codebook(e, "vec_id", "embedding", dim=64, m=7)
    # greedy packing: empty input -> empty output with the pack column
    empty = spark.createDataFrame([], "source string, doc_id long, n_chars long")
    out = pack_greedy_nosplit(empty, "source", "doc_id", "n_chars", 100)
    assert out.count() == 0 and "pack_id" in out.columns
    # greedy packing: a single oversized doc still gets pack 0
    one = spark.createDataFrame([("s", 1, 10_000)], "source string, doc_id long, n_chars long")
    assert pack_greedy_nosplit(one, "source", "doc_id", "n_chars", 100).first().pack_id == 0
    # k-core: self-loops and duplicate edges are normalized away
    messy = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 1), (2, 3), (1, 3), (1, 3)], "id_a long, id_b long"
    )
    out = k_core(messy, k=2).toPandas().sort_values("id")
    assert list(out.id) == [1, 2, 3]


def test_ivfpq_candidates_come_from_probed_cells(spark, sf_small):
    from wafer_defect_data_pipeline_spark.operators.quantization import ivfpq_topk
    from wafer_defect_data_pipeline_spark.operators.similarity import array_mean
    from wafer_defect_data_pipeline_spark.functions.arrays import as_double

    e = read_table(spark, sf_small, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    out = ivfpq_topk(e, q, dim=64, cb_k=16, k_top=5, n_probe=3).toPandas()
    # ranks are dense 1..5 per query, distances nondecreasing, no self-hits
    for qid, g in out.groupby("query_id"):
        g = g.sort_values("rank")
        assert list(g["rank"]) == list(range(1, len(g) + 1))
        assert g.adc_dist.is_monotonic_increasing
        assert (g.corpus_id != qid).all()
    # every candidate's cell is one of the query's 3 probed cells
    import numpy as np

    cents = array_mean(e, "label").toPandas()
    vecs = e.select("vec_id", as_double("embedding").alias("v"), "label").toPandas()
    vmap = dict(zip(vecs.vec_id, vecs.v))
    lmap = dict(zip(vecs.vec_id, vecs.label))
    C = {r.label: np.array(r.centroid) for r in cents.itertuples()}
    for qid, g in out.groupby("query_id"):
        qv = np.array(vmap[qid])
        sims = {
            lab: float(qv @ c / (np.linalg.norm(qv) * np.linalg.norm(c)))
            for lab, c in C.items()
        }
        probed = set(
            sorted(sims, key=lambda lab: (-sims[lab], lab))[:3]
        )
        assert {lmap[cid] for cid in g.corpus_id} <= probed


def test_ivfpq_prebuilt_probe_equals_fresh_build(spark, sf_small, tmp_path):
    """Persisted-index probe must be bit-equal to the in-session build, and
    the probe plan must prune unprobed cell partitions at the file source."""
    from wafer_defect_data_pipeline_spark.operators.quantization import (
        ivfpq_build_index,
        ivfpq_probe_index,
        ivfpq_topk,
    )

    e = read_table(spark, sf_small, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    idx = str(tmp_path / "ivfpq_index")
    ivfpq_build_index(e, idx, dim=64, cb_k=32)
    probe = ivfpq_probe_index(q, idx, dim=64, k_top=5, n_probe=3)
    fresh = ivfpq_topk(e, q, dim=64, cb_k=32, k_top=5, n_probe=3)
    a = probe.orderBy("query_id", "rank").toPandas()
    b = fresh.orderBy("query_id", "rank").toPandas()
    assert a.values.tolist() == b.values.tolist()
    # codes table is partitionBy(cell): the probed-cell join key must appear
    # as a partition filter, not a post-scan filter over all files
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_group_split_never_splits_a_source(spark, sf_small):
    from wafer_defect_data_pipeline_spark.operators.sampling import hash_split

    d = read_table(spark, sf_small, "documents")
    s = hash_split(d, "source", seed="gsplit:")
    spans = (
        s.groupBy("source")
        .agg(F.countDistinct("split").alias("n_splits"))
        .toPandas()
    )
    assert (spans.n_splits == 1).all()
    # and the split is exhaustive: every doc is in exactly one split
    assert s.count() == d.count()


@pytest.mark.parametrize("strategy", ["window", "combine", "auto"])
def test_duplicated_spans_planted_and_bounded(spark, strategy):
    """duplicated_spans (ExactSubstr k-gram pass): a 60-char span shared by
    two docs — surrounded by never-repeating filler drawn from disjoint
    alphabets — must be reported at exactly the k-gram-coverable offsets
    [len(filler), len(filler)+60), and a fully unique doc must report
    nothing. Both physical shapes of the duplicated-gram filter (single
    window pass vs partial-agg + semi-join) must agree exactly."""
    import string

    from wafer_defect_data_pipeline_spark.operators.dedup import duplicated_spans

    shared = "the quick brown fox jumps over the lazy dog once more today!"[:60]
    assert len(shared) == 60
    # each filler is a sequence of characters used NOWHERE else in the
    # corpus, so no 20-gram outside the shared span can ever repeat
    fill_a = string.ascii_uppercase + string.digits + "#$%&()*+,-./"  # 48 chars
    fill_b = string.ascii_lowercase + "[]^_{|}~;<=>?@!:"  # 42 chars
    fill_c = "".join(chr(0xA1 + i) for i in range(40))  # latin-1 suppl., 40 chars
    df = spark.createDataFrame(
        [
            (1, fill_a + shared),
            (2, fill_b + shared),
            (3, fill_c),  # fully unique — must report nothing
        ],
        "doc_id long, text string",
    )
    out = duplicated_spans(
        df, "doc_id", "text", k=20, min_span=40, min_count=2, strategy=strategy
    )
    rows = {r["doc_id"]: (r["span_start"], r["span_end"], r["span_len"]) for r in out.collect()}
    assert set(rows) == {1, 2}
    assert rows[1] == (len(fill_a), len(fill_a) + 60, 60)
    assert rows[2] == (len(fill_b), len(fill_b) + 60, 60)


def test_span_strategy_auto_switches_on_flood_grams(spark):
    """probe_span_strategy (r7 verdict item 1): the probe must pick the
    skew-proof 'combine' shape on a flood-gram corpus — every doc is a long
    single-character run, so ONE 20-gram owns ~90% of all positions and the
    window shape would sort them on one reducer — and must keep the 1.9x
    'window' shape on a healthy corpus whose grams are all unique. On the
    flood corpus strategy='auto' must still produce output identical to
    both explicit shapes."""
    from wafer_defect_data_pipeline_spark.operators.dedup import (
        duplicated_spans,
        probe_span_strategy,
    )

    # flood: 200 docs x 500-char 'a' run + short unique tail -> the gram
    # "a"*20 covers ~481/509 of each doc's positions corpus-wide
    flood = spark.createDataFrame(
        [(i, "a" * 500 + f" tail{i:04d}x") for i in range(200)],
        "doc_id long, text string",
    )
    assert probe_span_strategy(flood, "doc_id", "text", k=20)[0] == "combine"

    # healthy: per-doc-unique text (id-salted words) -> max gram frequency
    # ~1, orders of magnitude below any reducer budget
    healthy = spark.createDataFrame(
        [(i, " ".join(f"w{i:04d}t{j:03d}" for j in range(40))) for i in range(200)],
        "doc_id long, text string",
    )
    assert probe_span_strategy(healthy, "doc_id", "text", k=20)[0] == "window"

    outs = {
        s: sorted(
            map(
                tuple,
                duplicated_spans(
                    flood, "doc_id", "text", k=20, min_span=40, strategy=s
                ).collect(),
            )
        )
        for s in ("window", "combine", "auto")
    }
    assert outs["auto"], "flood corpus must report spans"
    assert outs["auto"] == outs["window"] == outs["combine"]


def test_span_window_salts_moderate_hot_grams(spark):
    """r12 verdict item 3 (the sf10 2-task tail): grams too small to flip
    the prober to 'combine' but big enough to dominate one window task must
    be SALTED inside the window shape — probe_span_strategy returns them,
    the salted pass spreads their positions over (gh, salt) partitions and
    marks them covered unconditionally (exact: their sampled count already
    proves >= min_count). Output must be identical to both unsalted
    shapes."""
    from wafer_defect_data_pipeline_spark.operators.dedup import (
        duplicated_spans,
        probe_span_strategy,
    )

    # every doc shares a 46-char homogeneous run: ONE cross-doc gram
    # ("x"*20) holding ~1/16 of all positions — inside the salt band
    # (0.25x..4x the per-reducer budget) for shuffle.partitions anywhere
    # in 8..32, so hot enough to salt but NOT enough to flip to combine
    phrase = "x" * 46
    docs = spark.createDataFrame(
        [
            (i, f"u{i:04d}" + " ".join(f"w{i:04d}t{j:03d}" for j in range(20))
             + phrase + " ".join(f"z{i:04d}t{j:03d}" for j in range(20)))
            for i in range(300)
        ],
        "doc_id long, text string",
    )
    strategy, flood = probe_span_strategy(docs, "doc_id", "text", k=20)
    assert strategy == "window"
    assert flood, "shared-phrase grams must be surfaced for salting"
    outs = {
        s: sorted(
            map(
                tuple,
                duplicated_spans(
                    docs, "doc_id", "text", k=20, min_span=20, strategy=s
                ).collect(),
            )
        )
        for s in ("window", "combine", "auto")
    }
    assert outs["auto"], "shared phrase must produce spans"
    assert outs["auto"] == outs["window"] == outs["combine"]


def test_span_probe_combine_flip_uses_unfiltered_max(spark):
    """r13 ADVICE: the combine-flip test must run against the UNFILTERED
    sampled max gram count. On a tiny sample where
    ``flood_factor * per_reducer < min_count`` every gram count (>= 1) can
    exceed the flip threshold yet sit below the salt filter's min_count
    floor — the r13 salt-band filter silently turned the documented r7
    'combine' verdict into 'window' there. One one-position doc: t=1,
    flood threshold = 4/shuffle.partitions(=8) = 0.5 < 1, so its count-1
    gram is above the flip threshold but below min_count=2."""
    from wafer_defect_data_pipeline_spark.operators.dedup import (
        probe_span_strategy,
    )

    docs = spark.createDataFrame(
        [(0, "doc00" + "q" * 15)],
        "doc_id long, text string",
    )
    strategy, flood = probe_span_strategy(
        docs, "doc_id", "text", k=20, sample_mod=1
    )
    assert strategy == "combine"
    assert flood == []  # count-1 grams never enter the salt list


def test_scratch_dir_is_pid_private_and_sweeps_dead_siblings(tmp_path):
    """scratch.scratch_dir (r13 ADVICE: fixed sf-keyed /tmp paths raced
    across concurrent runs): the returned path carries this process's pid,
    a dead sibling is swept on entry, and a sibling owned by a LIVE pid
    (pid 1 here) is left alone."""
    import os

    from wafer_defect_data_pipeline_spark.scratch import scratch_dir

    base = str(tmp_path)
    dead = tmp_path / "wdps_t_sf0.01_pid999999999"  # pid far above pid_max
    dead.mkdir()
    (dead / "part-0.parquet").write_text("stale")
    live = tmp_path / "wdps_t_sf0.01_pid1"
    live.mkdir()

    p = scratch_dir("t_sf0.01", base=base)
    assert p == os.path.join(base, f"wdps_t_sf0.01_pid{os.getpid()}")
    assert not dead.exists(), "dead sibling must be swept"
    assert live.exists(), "live-pid sibling must be left alone"
    # other tags' FRESH dirs are never touched
    other = tmp_path / "wdps_other_pid999999999"
    other.mkdir()
    scratch_dir("t_sf0.01", base=base)
    assert other.exists()


def test_scratch_dir_age_fallback_sweeps_stale_foreign_dirs(tmp_path, monkeypatch):
    """r14 ADVICE: a recycled PID owned by an unrelated live process defeats
    the liveness check forever, and one-off tags never recur for the
    exact-tag sweep — dirs accumulated in /tmp indefinitely. The age
    fallback sweeps a wdps_* dir once its mtime passes STALE_AGE_SECONDS
    AND its owner is dead or provably recycled (started after the dir's
    last write). Age alone must NOT sweep: a long-lived owner serving
    reads keeps the dir's mtime at build time, and an age-only rule would
    rmtree a LIVE process's artifacts mid-serve (r15 self-review)."""
    import os
    import subprocess
    import time as _time

    from wafer_defect_data_pipeline_spark import scratch as scratch_mod
    from wafer_defect_data_pipeline_spark.scratch import scratch_dir

    monkeypatch.setattr(scratch_mod, "STALE_AGE_SECONDS", 60)
    base = str(tmp_path)
    old = _time.time() - 120  # past the (patched) age threshold

    # recycled PID: pid 1 is alive but started at boot, AFTER mtime=0 ->
    # provably not the writer -> swept
    recycled = tmp_path / "wdps_oneoff_sf0.5_pid1"
    recycled.mkdir()
    os.utime(recycled, (0, 0))
    # live owner whose start PREDATES the dir's last write (pid 1 again,
    # mtime 2 min ago): plausibly still serving from it -> kept
    live_owner = tmp_path / "wdps_oneoff_sf0.6_pid1"
    live_owner.mkdir()
    os.utime(live_owner, (old, old))
    # dead owner, stale mtime -> swept
    proc = subprocess.Popen(["true"])
    proc.wait()
    dead = tmp_path / f"wdps_oneoff_sf0.8_pid{proc.pid}"
    dead.mkdir()
    os.utime(dead, (old, old))
    # live foreign pid, FRESH mtime -> kept regardless of owner state
    fresh_foreign = tmp_path / "wdps_oneoff_sf0.7_pid1"
    fresh_foreign.mkdir()
    # this process's OWN dir, stale mtime -> kept (we may still be using it)
    own = tmp_path / f"wdps_mine_pid{os.getpid()}"
    own.mkdir()
    os.utime(own, (0, 0))

    scratch_dir("unrelated_tag", base=base)
    assert not recycled.exists(), "stale dir with recycled owner must be swept"
    assert not dead.exists(), "stale dir with dead owner must be swept"
    assert live_owner.exists(), "a LIVE owner's stale-mtime dir must be kept"
    assert fresh_foreign.exists(), "fresh foreign dir must be kept"
    assert own.exists(), "own dirs are never age-swept"


def test_scratch_paths_removed_at_process_exit(tmp_path):
    """No state survives a run: a process's run_dir and scratch_dir paths,
    and the run root itself, are gone once that process exits."""
    import os
    import subprocess
    import sys

    from .conftest import REPO_ROOT

    code = (
        "import os, sys\n"
        "from wafer_defect_data_pipeline_spark.scratch import run_dir, scratch_dir\n"
        "paths = [run_dir('t', base=sys.argv[1]), scratch_dir('t', base=sys.argv[1])]\n"
        "for p in paths:\n"
        "    os.makedirs(p)\n"
        "    open(os.path.join(p, 'f'), 'w').write('x')\n"
        "print(*paths)\n"
    )
    done = subprocess.run(
        [sys.executable, "-c", code, str(tmp_path)],
        cwd=REPO_ROOT, capture_output=True, text=True, timeout=120, check=True,
    )
    paths = done.stdout.split()
    assert len(paths) == 2 and all(p.startswith(str(tmp_path)) for p in paths)
    assert os.listdir(tmp_path) == [], os.listdir(tmp_path)


def test_jaccard_pairs_auto_both_paths_match_exact(spark, sf_small):
    """jaccard_pairs_auto must return the exact-join answer on BOTH sides of
    the density probe: budget_factor=0 forces the LSH+verify fallback, the
    default budget selects the exact AllPairs path — and on this planted
    corpus (near-dups at j~0.98, threshold 0.8) the two must agree
    pair-for-pair with the unconditional exact join."""
    from pyspark.sql import functions as F

    from wafer_defect_data_pipeline_spark.operators.dedup import (
        jaccard_pairs_auto,
        prefix_filter_jaccard_pairs,
    )
    from wafer_defect_data_pipeline_spark.sources import read_table

    d = read_table(spark, sf_small, "documents").select("doc_id", "text")
    planted = (
        d.filter((F.col("doc_id") % 20 == 0) & (F.trim("text") != ""))
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" plantedtoken")))
    )
    both = d.unionByName(planted)
    exact = sorted(
        map(tuple, prefix_filter_jaccard_pairs(both, "doc_id", "text", 0.8).collect())
    )
    assert exact, "fixture must produce pairs"
    via_exact = sorted(map(tuple, jaccard_pairs_auto(both, "doc_id", "text", 0.8).collect()))
    via_lsh = sorted(
        map(
            tuple,
            jaccard_pairs_auto(both, "doc_id", "text", 0.8, budget_factor=0).collect(),
        )
    )
    assert via_exact == exact
    assert via_lsh == exact


def test_strip_duplicated_spans_semantics(spark):
    """strip_duplicated_spans: the planted shared span is cut from both
    docs (filler survives verbatim), a doc whose text is ENTIRELY a
    duplicated span becomes the empty string (not a silent fallback to the
    original), and a unique doc passes through untouched with zero stats."""
    import string

    from wafer_defect_data_pipeline_spark.operators.dedup import strip_duplicated_spans

    shared = "the quick brown fox jumps over the lazy dog once more today!"[:60]
    fill_a = string.ascii_uppercase + string.digits + "#$%&()*+,-./"  # 48 chars
    fill_b = string.ascii_lowercase + "[]^_{|}~;<=>?@!:"  # 42 chars
    uniq = "".join(chr(0xA1 + i) for i in range(40))
    df = spark.createDataFrame(
        [
            (1, fill_a + shared),
            (2, fill_b + shared),
            (3, uniq),  # unique: untouched
            (4, shared),  # entirely duplicated: must become ""
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["clean_text"], r["n_spans"], r["n_removed"])
        for r in strip_duplicated_spans(df, "doc_id", "text", k=20, min_span=40).collect()
    }
    assert out[1] == (fill_a, 1, 60)
    assert out[2] == (fill_b, 1, 60)
    assert out[3] == (uniq, 0, 0)
    assert out[4] == ("", 1, 60)


def test_contaminated_spans_and_strip_semantics(spark):
    """Span-level decontamination: only the quoted benchmark region of a
    train doc is reported/cut (doc-unique filler survives verbatim), a
    train doc that IS a benchmark doc verbatim becomes the empty string,
    and an untainted doc passes through with zero stats. Detection is
    asymmetric: one bench occurrence taints (no min_count), and bench
    docs themselves are never scanned for spans."""
    import string

    from wafer_defect_data_pipeline_spark.operators.dedup import (
        contaminated_spans,
        strip_contaminated_spans,
    )

    quote = "what is the airspeed velocity of an unladen swallow tell me!"[:60]
    fill_a = string.ascii_uppercase + string.digits + "#$%&()*+,-./"  # 48 chars
    uniq = "".join(chr(0xA1 + i) for i in range(40))
    bench = spark.createDataFrame([(900, quote)], "doc_id long, text string")
    train = spark.createDataFrame(
        [
            (1, fill_a + quote),  # partial quote: only the quote is cut
            (2, uniq),  # untainted: untouched, zero stats
            (3, quote),  # verbatim benchmark doc: becomes ""
        ],
        "doc_id long, text string",
    )
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["span_len"])
        for r in contaminated_spans(train, bench, "doc_id", "text", k=20, min_span=40).collect()
    }
    assert spans == {1: (len(fill_a), len(fill_a) + 60, 60), 3: (0, 60, 60)}
    out = {
        r["doc_id"]: (r["clean_text"], r["n_spans"], r["n_removed"])
        for r in strip_contaminated_spans(train, bench, "doc_id", "text", k=20, min_span=40).collect()
    }
    assert out[1] == (fill_a, 1, 60)
    assert out[2] == (uniq, 0, 0)
    assert out[3] == ("", 1, 60)


def test_incremental_duplicated_spans_batch_vs_index(spark):
    """incremental_duplicated_spans: a batch doc quoting an indexed doc
    verbatim is reported as one span over exactly the quoted region, a
    novel batch doc reports nothing, and min_index_count=2 requires the
    gram to have occurred twice in HISTORY (a once-seen gram no longer
    taints)."""
    import string

    from wafer_defect_data_pipeline_spark.operators.dedup import (
        gram_index,
        incremental_duplicated_spans,
    )

    quoted = "pack my box with five dozen liquor jugs for the judge now!"[:58]
    fill = string.ascii_uppercase + string.digits + "#$%&()*+,-./"  # 48 chars
    uniq = "".join(chr(0xA1 + i) for i in range(40))
    history = spark.createDataFrame(
        [(1, quoted + " " + fill)], "doc_id long, text string"
    )
    idx = gram_index(history, "doc_id", "text", k=20)
    batch = spark.createDataFrame(
        [(100, uniq + quoted), (101, uniq)], "doc_id long, text string"
    )
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["span_len"])
        for r in incremental_duplicated_spans(
            batch, idx, "doc_id", "text", k=20, min_span=40
        ).collect()
    }
    assert spans == {100: (len(uniq), len(uniq) + len(quoted), len(quoted))}
    # history contains every gram exactly once -> min_index_count=2 finds nothing
    none = incremental_duplicated_spans(
        batch, idx, "doc_id", "text", k=20, min_span=40, min_index_count=2
    ).count()
    assert none == 0


def test_span_stats_no_text_through_joins(spark, sf_small):
    """dedup_span_stats joins per-doc duplicated-char sums back to the
    corpus; the corpus side must be projected to length(text) BEFORE that
    join — at sf3+ carrying full document text through a join is the
    difference between shuffling bytes and shuffling the corpus (r7
    verdict item 8). Pin it structurally: no Join node in the optimized
    plan may output a text column."""
    from wafer_defect_data_pipeline_spark.plans.queries_dedup import _span_stats

    df = _span_stats(spark, sf_small)
    plan = df._jdf.queryExecution().optimizedPlan()
    joins = []
    stack = [plan]
    while stack:
        node = stack.pop()
        if "Join" in node.nodeName():
            joins.append(
                [node.output().apply(i).name() for i in range(node.output().size())]
            )
        for i in range(node.children().size()):
            stack.append(node.children().apply(i))
    assert joins, "span_stats plan must contain the stats join"
    for attrs in joins:
        assert not any("text" in a.lower() for a in attrs), attrs


def test_merge_gram_index_equals_rebuild(spark):
    """merge_gram_index: folding a batch into a prebuilt index must be
    bit-equal to rebuilding the index over history ∪ batch — including a
    gram that occurs in BOTH sides (counts add) — and the merged index must
    make a next-day probe find spans that only the batch introduced."""
    from wafer_defect_data_pipeline_spark.operators.dedup import (
        gram_index,
        incremental_duplicated_spans,
        merge_gram_index,
    )

    overlap = "this exact sentence lives in both history and the new batch"
    history = spark.createDataFrame(
        [(1, overlap + " old tail one"), (2, "completely unrelated historical doc x")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, overlap + " new tail two"), (11, "a fresh never-seen batch document!!")],
        "doc_id long, text string",
    )
    merged = merge_gram_index(
        gram_index(history, "doc_id", "text", k=20),
        gram_index(batch, "doc_id", "text", k=20),
    )
    rebuilt = gram_index(history.unionByName(batch), "doc_id", "text", k=20)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, rebuilt.collect()))
    # day-2 probe: a copy of batch doc 11's text is only a span via the merge
    day2 = spark.createDataFrame(
        [(100, "a fresh never-seen batch document!!")], "doc_id long, text string"
    )
    unmerged_hits = incremental_duplicated_spans(
        day2, gram_index(history, "doc_id", "text", k=20), "doc_id", "text",
        k=20, min_span=20,
    ).count()
    merged_hits = incremental_duplicated_spans(
        day2, merged, "doc_id", "text", k=20, min_span=20
    ).count()
    assert unmerged_hits == 0 and merged_hits == 1


def test_span_stats_partition(spark):
    """The duplication report splits per-doc duplicated chars correctly:
    a doc pair sharing a 60-char span is majority-dup only when the span
    is more than half the doc (doc B: 60 of 102 chars -> majority; doc A:
    60 of 130 -> not), and a unique doc contributes zeros."""
    import string

    from pyspark.sql import functions as F

    from wafer_defect_data_pipeline_spark.operators.dedup import duplicated_spans

    shared = "sixty shared characters exactly fill this sentence herexx"[:57] + "!!!"
    assert len(shared) == 60
    fill_a = "".join(chr(0x410 + i) for i in range(70))  # 70 distinct Cyrillic
    fill_b = string.ascii_lowercase + "[]^_{|}~;<=>?@!:"  # 42
    uniq = "".join(chr(0xA1 + i) for i in range(40))
    df = spark.createDataFrame(
        [(1, "s1", fill_a + shared), (2, "s1", fill_b + shared), (3, "s2", uniq)],
        "doc_id long, source string, text string",
    )
    spans = duplicated_spans(df, "doc_id", "text", k=20, min_span=40)
    per_doc = spans.groupBy("doc_id").agg(F.sum("span_len").alias("dup"))
    rows = {r["doc_id"]: r["dup"] for r in per_doc.collect()}
    assert rows == {1: 60, 2: 60}
    # majority-dup policy input: 60*2 > 102 (doc 2) but not > 108 (doc 1)
    assert 60 * 2 > len(fill_b + shared) and not 60 * 2 > len(fill_a + shared)


# --- entity resolution (operators/entity.py) ---------------------------------
def test_entity_blocking_and_snm_agree_on_planted_typos(spark):
    """Blocked self-join and sorted-neighborhood must find the same planted
    typo pairs when the cluster shares a sort key — two physical strategies,
    one answer — and transitive closure must merge base+v1+v2 into one
    entity named by the min id."""
    from pyspark.sql import functions as F

    from wafer_defect_data_pipeline_spark.operators.entity import (
        blocking_pairs,
        resolve_entities,
        sorted_neighborhood_pairs,
    )

    rows = [
        (1, "Customer#000000042", 7),   # base
        (2, "Customer#0X0000042", 7),   # typo at pos 11
        (3, "Customer#Z00000042", 7),   # typo at pos 10
        (4, "Customer#000000777", 7),   # unrelated, same nation
        (5, "Customer#000000042", 9),   # same name, other nation -> other block
    ]
    df = spark.createDataFrame(rows, "id long, name string, nk int")
    blocked = blocking_pairs(
        df, "id", "name", [F.col("nk"), F.substring("name", 13, 6)], max_distance=2
    )
    snm = sorted_neighborhood_pairs(
        df, "id", "name", "nk", sort_col=F.substring("name", 13, 6), window=2
    )
    want = {(1, 2, 1), (1, 3, 1), (2, 3, 2)}
    got_b = {(r.id_a, r.id_b, r.lev_dist) for r in blocked.collect()}
    got_s = {(r.id_a, r.id_b, r.lev_dist) for r in snm.collect()}
    assert got_b == want and got_s == want
    ent = {r.id: r.entity_id for r in resolve_entities(df, "id", blocked).collect()}
    assert ent == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5}


def test_entity_snm_misses_front_typo_without_stable_sort_key(spark):
    """The SNM failure mode the sort_col lever exists for: sorting by the
    raw name teleports a front-corrupted record away from its duplicate,
    so the pass misses the pair that the stable-substring key finds."""
    from pyspark.sql import functions as F

    from wafer_defect_data_pipeline_spark.operators.entity import (
        sorted_neighborhood_pairs,
    )

    rows = [(i, f"Customer#{i:09d}", 1) for i in range(2, 40)] + [
        (1, "Customer#000000002", 1),          # dup of id 2 (same name)
        (900, "ZCustomer#00000002", 1),        # front-corrupted dup of id 2
    ]
    df = spark.createDataFrame(rows, "id long, name string, nk int")
    by_name = sorted_neighborhood_pairs(df, "id", "name", "nk", window=2)
    by_tail = sorted_neighborhood_pairs(
        df, "id", "name", "nk", sort_col=F.substring("name", 11, 8), window=2
    )
    found_name = {(r.id_a, r.id_b) for r in by_name.collect()}
    found_tail = {(r.id_a, r.id_b) for r in by_tail.collect()}
    assert (1, 2) in found_name and (2, 900) not in found_name
    assert (2, 900) in found_tail  # 'ZCustomer#00000002'[11:19)=='00000002'... stable tail recovers it


def test_logreg_train_descends_and_finds_the_signal(spark):
    """On a linearly separable synthetic set, three GD steps must strictly
    reduce the starting log-loss each step (full-batch GD on a convex loss
    with a sane lr), start at exactly ln 2 (w=0 => p=0.5), and push the
    signal feature's weight positive while the noise weight stays near 0."""
    import math

    from wafer_defect_data_pipeline_spark.operators.logreg import logreg_train

    rows = [(1.0 if i % 2 else 0.0, 0.5, float(i % 2)) for i in range(400)]
    df = spark.createDataFrame(rows, "sig double, noise double, y double")
    recs = logreg_train(df, ["sig", "noise"], "y", lr=0.5, steps=3)
    losses = [r["loss_before"] for r in recs]
    assert abs(losses[0] - math.log(2)) < 1e-6
    assert losses[0] > losses[1] > losses[2]
    final = recs[-1]
    assert final["w_sig"] > 0.1 and abs(final["w_noise"]) < abs(final["w_sig"])


def test_strip_html_kills_blocks_tags_entities(spark):
    """script/style content dies entirely (including a '<' inside the
    script body), tags and entities become collapsed whitespace, and
    clean text survives verbatim."""
    from wafer_defect_data_pipeline_spark.functions.text import strip_html

    page = (
        '<html><head><style>p {color: red}</style></head><body>'
        '<div class="nav">Home &amp; About</div>'
        "<p>real   content</p><script>var x = 1 < 2;</script>"
        "<footer>&copy; 2026</footer></body></html>"
    )
    df = spark.createDataFrame([(page,)], "page string")
    out = df.select(strip_html("page").alias("clean")).collect()[0]["clean"]
    assert out == "Home About real content 2026"


def test_entity_blocking_purges_flooded_blocks(spark):
    """Block purging: a degenerate key (empty-name records all landing in
    one block) must contribute ZERO candidates when max_block_size caps it,
    while normal blocks keep matching — the quadratic reducer never runs."""
    from pyspark.sql import functions as F

    from wafer_defect_data_pipeline_spark.operators.entity import blocking_pairs

    flood = [(i, "", 1) for i in range(200)]
    good = [(1001, "Customer#000000042", 1), (1002, "Customer#0X0000042", 1)]
    df = spark.createDataFrame(flood + good, "id long, name string, nk int")
    block = [F.col("nk"), F.substring("name", 13, 6)]
    capped = blocking_pairs(df, "id", "name", block, max_block_size=50)
    got = {(r.id_a, r.id_b) for r in capped.collect()}
    assert got == {(1001, 1002)}
    uncapped = blocking_pairs(df, "id", "name", block).count()
    assert uncapped == 200 * 199 // 2 + 1  # what the cap is protecting against


def test_hamming_band_pairs_complete_within_distance(spark):
    """Pigeonhole banding is EXACT search: every pair within max_dist is
    found (even when the differing bits straddle three bands), pairs
    beyond max_dist are dropped, and n_bands <= max_dist is rejected."""
    import pytest as _pytest

    from wafer_defect_data_pipeline_spark.operators.dedup import hamming_band_pairs

    base = "0110100110010110" * 4
    def flip(s, *pos):
        l = list(s)
        for p in pos:
            l[p] = "1" if l[p] == "0" else "0"
        return "".join(l)

    rows = [
        (1, base),
        (2, flip(base, 0, 20, 40)),   # 3 bits across bands 0,1,2 -> dist 3
        (3, flip(base, 5, 21, 37, 55)),  # 4 bits -> beyond max_dist
        (4, base),                    # exact dup of 1
    ]
    df = spark.createDataFrame(rows, "id long, bits string")
    got = {(r.id_a, r.id_b): r.hamming for r in hamming_band_pairs(
        df, "id", "bits", n_bits=64, n_bands=4, max_dist=3
    ).collect()}
    assert got[(1, 2)] == 3 and got[(1, 4)] == 0 and got[(2, 4)] == 3
    assert not any(3 in p for p in got)
    with _pytest.raises(ValueError):
        hamming_band_pairs(df, "id", "bits", n_bits=64, n_bands=3, max_dist=3)


def test_image_ahash_executes_codec_and_absorbs_small_edits(spark):
    """The aHash kernel runs the real P6 decode; the md5-noise fixture's
    perturbed fourth image stays within Hamming 3 of its group siblings
    while images from different groups are far apart."""
    from wafer_defect_data_pipeline_spark.operators.dedup import hamming_bits
    from wafer_defect_data_pipeline_spark.operators.multimodal import (
        attach_ppm_payload_random,
        image_ahash,
    )
    from pyspark.sql import functions as F

    d = spark.range(8).select(F.col("id").alias("doc_id"))  # groups {0..3},{4..7}
    sig = image_ahash(attach_ppm_payload_random(d)).collect()
    hashes = {r.doc_id: r.ahash for r in sig}
    assert all(len(h) == 64 and set(h) <= {"0", "1"} for h in hashes.values())
    assert hashes[0] == hashes[1] == hashes[2]  # same base image
    df = spark.createDataFrame(
        [(hashes[3], hashes[0], "perturbed_vs_base"), (hashes[0], hashes[4], "cross_group")],
        "a string, b string, which string",
    )
    got = {r.which: r.d for r in df.select(
        "which", hamming_bits(F.col("a"), F.col("b"), 64).alias("d")
    ).collect()}
    assert got["perturbed_vs_base"] <= 3
    assert got["cross_group"] > 10


def test_audio_fingerprint_executes_riff_and_groups_clips(spark):
    """The fingerprint kernel walks real RIFF bytes; group siblings share
    (or nearly share) fingerprints while different groups are far apart."""
    from pyspark.sql import functions as F

    from wafer_defect_data_pipeline_spark.operators.dedup import hamming_bits
    from wafer_defect_data_pipeline_spark.operators.multimodal import (
        attach_pcm_payload_random,
        audio_fingerprint,
    )

    d = spark.range(8).select(F.col("id").alias("doc_id"))
    fps = {r.doc_id: r.afp for r in audio_fingerprint(
        attach_pcm_payload_random(d)
    ).collect()}
    assert all(len(h) == 64 and h[0] == "0" for h in fps.values())
    assert fps[0] == fps[1] == fps[2]
    df = spark.createDataFrame(
        [(fps[3], fps[0], "perturbed"), (fps[0], fps[4], "cross")],
        "a string, b string, which string",
    )
    got = {r.which: r.d for r in df.select(
        "which", hamming_bits(F.col("a"), F.col("b"), 64).alias("d")
    ).collect()}
    assert got["perturbed"] <= 3 and got["cross"] > 10


def test_video_frame_hash_voting_absorbs_one_corrupted_frame(spark):
    """The Y4M kernel walks real frame markers; the perturbed clip (frame 0
    corrupted) still matches its siblings on the other 3 frames, and
    cross-group clips share no frame hashes."""
    from pyspark.sql import functions as F

    from wafer_defect_data_pipeline_spark.operators.multimodal import (
        attach_y4m_payload_random,
        video_frame_hashes,
    )

    d = spark.range(8).select(F.col("id").alias("doc_id"))
    fh = video_frame_hashes(attach_y4m_payload_random(d))
    rows = fh.collect()
    assert {r.frame_idx for r in rows} == {0, 1, 2, 3}
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.frame_idx] = r.fhash
    assert by_doc[0] == by_doc[1]                      # verbatim siblings
    shared = [f for f in range(4) if by_doc[3][f] == by_doc[0][f]]
    assert set(shared) >= {1, 2, 3}                    # corruption only hits f0
    assert not set(by_doc[0].values()) & set(by_doc[4].values())  # cross-group


def test_label_propagation_splits_bridged_cliques(spark):
    """On two 4-cliques joined by one bridge edge, 3 LPA rounds keep two
    distinct majority labels (communities) while connected components
    collapses everything to one — the property that makes LPA a different
    operator, not a CC variant."""
    from wafer_defect_data_pipeline_spark.operators.graph import (
        connected_components,
        label_propagation,
    )

    def clique(ids):
        return [(a, b) for a in ids for b in ids if a != b]

    edges = clique([1, 2, 3, 4]) + clique([11, 12, 13, 14]) + [(4, 11), (11, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    labels = {r.node: r.label for r in label_propagation(df, n_rounds=3).collect()}
    left = {labels[i] for i in (1, 2, 3)}
    right = {labels[i] for i in (12, 13, 14)}
    assert left == {1} and right == {11}
    assert left != right
    comp = {r.component for r in connected_components(df, "src", "dst").collect()}
    assert comp == {1}


@pytest.fixture
def no_tmp_residue():
    """An admit-loop runner leaves nothing in the temp dir but its output:
    the only new ``wdps_*`` entry may be this process's run root, and each
    run dir created in it holds only the ``out/`` its returned frame reads."""
    import os
    import re
    import tempfile

    pid = os.getpid()
    tmp = tempfile.gettempdir()
    root = f"{tmp}/wdps_run_pid{pid}"

    def ours(name: str) -> bool:  # other processes' pid-suffixed dirs aside
        m = re.search(r"_pid(\d+)$", name)
        return m is None or int(m.group(1)) == pid

    def entries() -> set[str]:
        return {n for n in os.listdir(tmp) if n.startswith("wdps_") and ours(n)}

    def runs() -> set[str]:
        return set(os.listdir(root)) if os.path.isdir(root) else set()

    before, runs_before = entries(), runs()
    yield
    assert entries() - before <= {os.path.basename(root)}, entries() - before
    new_runs = runs() - runs_before
    assert new_runs, "runner work dirs must live under the run root"
    for r in new_runs:
        assert os.listdir(f"{root}/{r}") == ["out"], (r, os.listdir(f"{root}/{r}"))


def test_streaming_span_delta_matches_rewrite_and_admits_o_batch(
    spark, sf_small, no_tmp_residue
):
    """The delta-append admit loop is defined to be bit-equal to the rewrite
    twin (gram counts are independent, so presence in base ∪ deltas ==
    presence in the merged index) — and its whole point is that ADMITTING a
    batch writes O(batch) bytes, not O(index): the per-batch delta must be
    a small fraction of the compacted base the rewrite loop would rewrite
    per admit."""
    from wafer_defect_data_pipeline_spark.streaming.dedup import (
        run_streaming_span_dedup,
        run_streaming_span_dedup_delta,
    )

    rewrite = run_streaming_span_dedup(spark, sf_small, k=20, min_span=40).collect()
    stats: dict = {}
    delta = run_streaming_span_dedup_delta(
        spark, sf_small, k=20, min_span=40, stats=stats
    ).collect()
    assert len(rewrite) > 0
    assert [tuple(r) for r in delta] == [tuple(r) for r in rewrite]
    assert len(stats["admit_bytes_per_batch"]) == 2  # one per staged day
    assert stats["base_bytes"] > 0
    # O(batch) vs O(index): every admit write ≪ the base index bytes
    assert max(stats["admit_bytes_per_batch"]) * 3 < stats["base_bytes"], stats


def test_streaming_span_delta_probe_excludes_own_delta(spark, sf_small, tmp_path):
    """Retry idempotency: a foreachBatch retry runs AFTER the first attempt
    already wrote delta/batch=N and appended it to the manifest. The probe
    must exclude the batch's own delta (else every k-gram self-matches and
    whole documents come back as spans) and the manifest append must be
    membership-guarded (else the delta double-counts at compaction).
    Simulated by pre-seeding the state exactly as a died-after-admit
    attempt leaves it, then re-running the batch body."""
    from pyspark.sql import functions as F

    from wafer_defect_data_pipeline_spark.operators.dedup import (
        gram_index,
        incremental_duplicated_spans,
    )

    d = (
        read_table(spark, sf_small, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") % 20 == 0)
    )
    base_src = read_table(spark, sf_small, "documents").select("doc_id", "text")
    work = str(tmp_path)
    # batch = suffix copies of history (spans expected against base) PLUS
    # novel payloads (no spans against base — but a tainted probe that
    # self-matches the batch's own grams marks them duplicated end-to-end)
    batch = d.select(
        (F.col("doc_id") + F.lit(9_000_000)).alias("doc_id"),
        F.expr("substring(text, 31)").alias("text"),
    ).unionByName(
        d.select(
            (F.col("doc_id") + F.lit(8_000_000)).alias("doc_id"),
            F.concat(
                F.lit("retry novel payload number "),
                F.col("doc_id").cast("string"),
                F.lit(" padding zeta eta theta iota kappa"),
            ).alias("text"),
        )
    )
    gram_index(base_src, "doc_id", "text", k=20).write.parquet(f"{work}/base")
    delta_path = f"{work}/delta/batch=0"
    gram_index(batch, "doc_id", "text", k=20).write.parquet(delta_path)
    state = {"base": f"{work}/base", "deltas": [delta_path]}  # died-after-admit

    # first-attempt truth: probe against base only
    want = sorted(
        tuple(r)
        for r in incremental_duplicated_spans(
            batch, spark.read.parquet(state["base"]), "doc_id", "text", k=20, min_span=40
        ).collect()
    )
    # retry view per the fixed loop: base ∪ deltas EXCLUDING own delta
    parts = [spark.read.parquet(state["base"])] + [
        spark.read.parquet(p) for p in state["deltas"] if p != delta_path
    ]
    from functools import reduce

    from pyspark.sql import DataFrame

    idx = reduce(DataFrame.unionByName, parts)
    got = sorted(
        tuple(r)
        for r in incremental_duplicated_spans(
            batch, idx, "doc_id", "text", k=20, min_span=40
        ).collect()
    )
    assert got == want and len(got) > 0
    # the buggy retry view (own delta included) self-matches every gram:
    # strictly more covered positions → different (larger) span output
    tainted = idx.unionByName(spark.read.parquet(delta_path))
    bad = sorted(
        tuple(r)
        for r in incremental_duplicated_spans(
            batch, tainted, "doc_id", "text", k=20, min_span=40
        ).collect()
    )
    assert bad != want  # the exclusion is load-bearing, not decorative


def test_label_propagation_directed_input_keeps_sink_and_source_nodes(spark):
    """LPA treats edges as undirected (internal symmetrize): on a DIRECTED
    path 1->2->3 every node must survive all rounds with a label, and the
    chain must converge to one community. Before the symmetrize, nodes
    with no out-edge vanished from `labels` after round 1 (labels flowed
    dst->src only)."""
    from wafer_defect_data_pipeline_spark.operators.graph import label_propagation

    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    got = {r.node: r.label for r in label_propagation(df, n_rounds=3).collect()}
    assert set(got) == {1, 2, 3}  # no node dropped
    # two directed cliques + a one-way bridge: same communities as the
    # undirected (pre-symmetrized) form of the identical graph
    def clique(ids):
        return [(a, b) for a in ids for b in ids if a != b]

    edges = clique([1, 2, 3, 4]) + clique([11, 12, 13, 14]) + [(4, 11)]
    directed = spark.createDataFrame(edges, "src long, dst long")
    sym = spark.createDataFrame(
        edges + [(b, a) for a, b in edges], "src long, dst long"
    )
    got_d = {r.node: r.label for r in label_propagation(directed, n_rounds=3).collect()}
    got_s = {r.node: r.label for r in label_propagation(sym, n_rounds=3).collect()}
    assert got_d == got_s


def test_logreg_loss_finite_under_saturated_sigmoid(spark):
    """A feature scale that saturates the sigmoid (|z| >> 37) drives p to
    exactly 0.0/1.0 in float64; the unclamped -[y log p + (1-y) log(1-p)]
    then averages to NaN/inf and poisons every recorded loss. The clamp
    keeps the loss finite while the gradient (raw p, finite limit) is
    untouched."""
    import math

    from wafer_defect_data_pipeline_spark.operators.logreg import logreg_train

    rows = [(1e6, 1.0), (1e6, 1.0), (-1e6, 0.0), (-1e6, 0.0)]
    df = spark.createDataFrame(rows, "x double, y double")
    hist = logreg_train(df, ["x"], "y", steps=3, lr=1.0)
    losses = [r["loss_before"] for r in hist]
    assert all(math.isfinite(v) for v in losses), losses


def test_entity_multipass_snm_recovers_front_typo(spark):
    """Multi-pass SNM closes the documented single-pass miss: on the same
    fixture where a raw-name sort loses the front-corrupted duplicate
    (test_entity_snm_misses_front_typo_without_stable_sort_key), the union
    of the raw-name pass and the stable-tail pass finds BOTH pairs, with
    no duplicate rows after the cross-pass distinct."""
    from pyspark.sql import functions as F

    from wafer_defect_data_pipeline_spark.operators.entity import (
        multipass_sorted_neighborhood_pairs,
    )

    rows = [(i, f"Customer#{i:09d}", 1) for i in range(2, 40)] + [
        (1, "Customer#000000002", 1),          # dup of id 2 (same name)
        (900, "ZCustomer#00000002", 1),        # front-corrupted dup of id 2
    ]
    df = spark.createDataFrame(rows, "id long, name string, nk int")
    pairs = multipass_sorted_neighborhood_pairs(
        df, "id", "name", "nk",
        sort_cols=[F.col("name"), F.substring("name", 11, 8)],
        window=2,
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in found and (2, 900) in found
    assert len(pairs) == len({(r.id_a, r.id_b) for r in pairs})  # distinct pairs


def test_streaming_minhash_delta_matches_rewrite_and_admits_o_batch(spark, sf_small, no_tmp_residue):
    """The minhash delta-append admit loop is bit-equal to the rewrite twin
    (signatures are independent rows — base ∪ deltas IS the index) and its
    per-admit write is a small fraction of the full signature index the
    rewrite loop rewrites per batch."""
    from wafer_defect_data_pipeline_spark.streaming.dedup import (
        run_streaming_minhash_probe,
        run_streaming_minhash_probe_delta,
    )

    rewrite = run_streaming_minhash_probe(spark, sf_small, threshold=0.4).collect()
    stats: dict = {}
    delta = run_streaming_minhash_probe_delta(
        spark, sf_small, threshold=0.4, stats=stats
    ).collect()
    assert len(rewrite) > 0
    assert [tuple(r) for r in delta] == [tuple(r) for r in rewrite]
    assert len(stats["admit_bytes_per_batch"]) == 2
    assert max(stats["admit_bytes_per_batch"]) * 3 < stats["base_bytes"], stats


def test_streaming_entity_delta_matches_rewrite_and_admits_o_batch(spark, sf_small, no_tmp_residue):
    """The entity-linkage delta-append admit loop is bit-equal to the
    rewrite twin (records are independent rows — base ∪ deltas IS the
    master table) and each admit writes a small fraction of the full
    snapshot the rewrite loop rewrites per batch."""
    from wafer_defect_data_pipeline_spark.streaming.dedup import (
        run_streaming_entity_linkage,
        run_streaming_entity_linkage_delta,
    )

    rewrite = run_streaming_entity_linkage(spark, sf_small).collect()
    stats: dict = {}
    delta = run_streaming_entity_linkage_delta(spark, sf_small, stats=stats).collect()
    assert len(rewrite) > 0
    assert [tuple(r) for r in delta] == [tuple(r) for r in rewrite]
    assert len(stats["admit_bytes_per_batch"]) == 2
    assert max(stats["admit_bytes_per_batch"]) * 3 < stats["base_bytes"], stats


@pytest.mark.medium
def test_streaming_span_delta_output_invariant_to_compaction_cadence(spark, sf_small):
    """The compaction cadence is an operational knob, never a semantic one:
    compact_every=1 (compact after every admit) and compact_every=3 (never
    compacts within the two-day replay — probes read base ∪ deltas the
    whole way) must both reproduce the default run's spans exactly."""
    from wafer_defect_data_pipeline_spark.streaming.dedup import (
        run_streaming_span_dedup_delta,
    )

    base = [
        tuple(r)
        for r in run_streaming_span_dedup_delta(spark, sf_small, compact_every=2).collect()
    ]
    assert len(base) > 0
    for cadence in (1, 3):
        got = [
            tuple(r)
            for r in run_streaming_span_dedup_delta(
                spark, sf_small, compact_every=cadence
            ).collect()
        ]
        assert got == base, f"compact_every={cadence} diverged"


def test_streaming_bm25_standing_query_sees_admitted_docs(spark, sf_small, no_tmp_residue):
    """The standing query's day-N ranking must (a) rank over the corpus
    INCLUDING day N's admitted docs — an admitted doc_id (>= 3M) appears
    once its day arrives, (b) produce full top-10 pages per day, and (c)
    pay O(batch) admits: each delta write is a small fraction of the base
    index bytes."""
    from wafer_defect_data_pipeline_spark.streaming.search import (
        run_streaming_bm25_standing,
    )

    st: dict = {}
    rows = run_streaming_bm25_standing(spark, sf_small, k=10, stats_out=st).collect()
    by_day = {}
    for r in rows:
        by_day.setdefault(r.day, []).append(r)
    assert set(by_day) == {1, 2}
    assert len(by_day[1]) == 10 and len(by_day[2]) == 10
    assert [r.rank for r in by_day[1]] == list(range(1, 11))
    # the day-2 alert plant (high tf, tiny dl) must TOP day 2's page and
    # be absent from day 1's — retrieval exists only through admission
    assert by_day[2][0].doc_id == 9_000_000 and by_day[2][0].rank == 1
    assert all(r.doc_id != 9_000_000 for r in by_day[1])
    # corpus stats moved between days (N, avgdl, df), so shared docs rescore
    d1 = {r.doc_id: r.bm25 for r in by_day[1]}
    d2 = {r.doc_id: r.bm25 for r in by_day[2]}
    shared = set(d1) & set(d2)
    assert shared and any(d1[i] != d2[i] for i in shared)
    assert len(st["admit_bytes_per_batch"]) == 2
    assert max(st["admit_bytes_per_batch"]) * 3 < st["base_bytes"], st


def test_delta_manifest_retry_after_compaction_never_self_matches(tmp_path):
    """The manifest invariant the five admit loops rely on: a batch's own
    delta is excluded from BOTH the probe view and every compaction fold,
    so no retry — even one that runs AFTER the first attempt's compaction
    — can observe its own rows through the base. Simulated as the exact
    sequence a died-after-compaction retry produces."""
    from wafer_defect_data_pipeline_spark.streaming.state import DeltaManifest

    def mk(p):
        d = tmp_path / p
        d.mkdir(parents=True, exist_ok=True)
        (d / "x").write_bytes(b"1234")
        return str(d)

    base0, d0, d1 = mk("base/v0"), mk("delta/batch=0"), mk("delta/batch=1")
    man = DeltaManifest(base0, compact_every=1)

    # batch 0, first attempt: admit + compaction, then dies pre-completion
    assert man.admit(d0) is True
    assert man.want_compact()
    assert d0 not in man.compact_parts(d0)  # own delta never folded
    base1 = mk("base/v1")
    man.finish_compact(base1, d0)
    assert man.base == base1 and man.deltas == [d0]  # own delta survives
    # batch 0, RETRY: probe view must still exclude own rows entirely —
    # not via the deltas list only, but structurally (base never absorbed d0)
    assert d0 not in man.probe_parts(d0)
    assert man.probe_parts(d0) == [base1]
    assert man.admit(d0) is False  # guarded: no double-append, no re-count
    assert len(man.admit_bytes) == 1
    # include_own views (standing queries) see the batch EXACTLY once
    assert man.probe_parts(d0, include_own=True).count(d0) == 1

    # batch 1 proceeds normally: probe sees base + d0, not d1
    assert man.probe_parts(d1) == [base1, d0]
    man.admit(d1)
    base2 = mk("base/v2")
    assert man.compact_parts(d1) == [base1, d0]
    man.finish_compact(base2, d1)
    assert man.deltas == [d1]
    # vacuum only touches superseded parts
    import os

    man.vacuum()
    assert not os.path.exists(base0) and not os.path.exists(base1)
    assert os.path.exists(base2) and os.path.exists(d1)


@pytest.mark.medium
def test_streaming_delta_loops_invariant_to_compaction_cadence(spark, sf_small):
    """compact_every is operational, never semantic, for EVERY delta loop:
    compact_every=1 forces the compaction branch (including the standing
    query's three-relation fold) inside the two-day replay and must
    reproduce the no-compaction output exactly."""
    from wafer_defect_data_pipeline_spark.streaming.dedup import (
        run_streaming_entity_linkage_delta,
        run_streaming_minhash_probe_delta,
    )
    from wafer_defect_data_pipeline_spark.streaming.search import (
        run_streaming_bm25_standing,
    )

    from wafer_defect_data_pipeline_spark.streaming.similarity import (
        run_streaming_ann_probe,
    )

    for fn, kwargs in (
        (run_streaming_minhash_probe_delta, {"threshold": 0.4}),
        (run_streaming_entity_linkage_delta, {}),
        (run_streaming_bm25_standing, {"k": 10}),
        (run_streaming_ann_probe, {"k": 3}),
    ):
        never = [tuple(r) for r in fn(spark, sf_small, compact_every=9, **kwargs).collect()]
        always = [tuple(r) for r in fn(spark, sf_small, compact_every=1, **kwargs).collect()]
        assert len(never) > 0
        assert always == never, fn.__name__


# --- round 11: durable DeltaManifest transaction log + restart recovery -----


def test_delta_manifest_checkpoint_recover_roundtrip(tmp_path):
    """The durable log is a full-state snapshot per batch: recover() from
    the highest entry must reproduce base/deltas/superseded/byte-stats
    exactly, through an admit AND a compaction."""
    from wafer_defect_data_pipeline_spark.streaming.state import DeltaManifest

    def mkpart(name: str, nbytes: int) -> str:
        p = tmp_path / name
        p.mkdir(parents=True)
        (p / "part-0").write_bytes(b"x" * nbytes)
        return str(p)

    log = str(tmp_path / "_log")
    man = DeltaManifest(mkpart("base/v0", 100), compact_every=2, log_dir=log)
    man.checkpoint(-1)
    man.admit(mkpart("delta/batch=0", 10))
    man.checkpoint(0)
    man.admit(mkpart("delta/batch=1", 12))
    assert man.want_compact()
    man.finish_compact(mkpart("base/v2", 110), str(tmp_path / "delta/batch=1"))
    man.checkpoint(1)

    rec = DeltaManifest.recover(log)
    for f in DeltaManifest._LOG_FIELDS:
        assert getattr(rec, f) == getattr(man, f), f
    # and the recovered manifest keeps checkpointing to the same log
    assert rec.log_dir == log


def test_delta_manifest_recover_after_death_mid_batch(tmp_path):
    """A crash BETWEEN the delta data write and the log write leaves an
    orphaned delta dir on disk. Recovery must come back with the
    pre-batch state (the orphan is NOT in the manifest), so the retried
    batch re-probes the same pre-admit view its first attempt did,
    overwrites the orphan deterministically, and admits it exactly once."""
    from wafer_defect_data_pipeline_spark.streaming.state import DeltaManifest

    def mkpart(name: str, nbytes: int) -> str:
        p = tmp_path / name
        p.mkdir(parents=True)
        (p / "part-0").write_bytes(b"x" * nbytes)
        return str(p)

    log = str(tmp_path / "_log")
    man = DeltaManifest(mkpart("base/v0", 100), compact_every=9, log_dir=log)
    man.checkpoint(-1)
    man.admit(mkpart("delta/batch=0", 10))
    man.checkpoint(0)
    # batch 1 died after writing its delta but BEFORE its checkpoint
    orphan = mkpart("delta/batch=1", 11)

    rec = DeltaManifest.recover(log)
    assert rec.deltas == [str(tmp_path / "delta/batch=0")]  # orphan absent
    # retry of batch 1: probe view excludes the orphan twice over (not in
    # the manifest, and own-delta exclusion would drop it even if it were)
    assert orphan not in rec.probe_parts(orphan)
    # re-admit is counted once
    assert rec.admit(orphan) is True
    assert rec.admit(orphan) is False
    assert rec.deltas.count(orphan) == 1


def test_delta_manifest_recover_after_death_post_compaction(tmp_path):
    """A crash AFTER compaction's data writes but before the checkpoint:
    recovery sees the pre-compaction manifest, and because vacuum only ever
    runs after termination, every pre-compaction part is still on disk —
    the retried batch can replay the whole body (probe, admit, re-fold the
    same compaction) against paths that all still exist."""
    import os

    from wafer_defect_data_pipeline_spark.streaming.state import DeltaManifest

    def mkpart(name: str, nbytes: int) -> str:
        p = tmp_path / name
        p.mkdir(parents=True)
        (p / "part-0").write_bytes(b"x" * nbytes)
        return str(p)

    log = str(tmp_path / "_log")
    man = DeltaManifest(mkpart("base/v0", 100), compact_every=2, log_dir=log)
    man.checkpoint(-1)
    man.admit(mkpart("delta/batch=0", 10))
    man.checkpoint(0)
    man.admit(mkpart("delta/batch=1", 12))
    mkpart("base/v2", 110)  # compaction wrote its fold ...
    # ... and the process died before finish_compact's state change was
    # checkpointed (finish_compact itself is driver-memory; the durable
    # boundary is the checkpoint)
    rec = DeltaManifest.recover(log)
    assert rec.base == str(tmp_path / "base/v0")
    assert rec.deltas == [str(tmp_path / "delta/batch=0")]
    # every part the retried batch will read still exists (vacuum never ran)
    for p in [rec.base, *rec.deltas]:
        assert os.path.isdir(p), p


def test_delta_manifest_conflict_guard_kills_stale_writer(tmp_path):
    """Optimistic-concurrency half of the log protocol: a zombie driver
    whose replacement already checkpointed later batches must FAIL its
    publish (ManifestConflictError), not fork the manifest history.
    Re-publishing the head itself (the Structured-Streaming retry case)
    stays allowed."""
    import pytest as _pytest

    from wafer_defect_data_pipeline_spark.streaming.state import (
        DeltaManifest,
        ManifestConflictError,
    )

    def mkpart(name: str, nbytes: int) -> str:
        p = tmp_path / name
        p.mkdir(parents=True)
        (p / "part-0").write_bytes(b"x" * nbytes)
        return str(p)

    log = str(tmp_path / "_log")
    man = DeltaManifest(mkpart("base/v0", 100), compact_every=9, log_dir=log)
    man.checkpoint(-1)
    man.admit(mkpart("delta/batch=0", 10))
    man.checkpoint(0)

    # the "zombie": a driver that recovered at batch 0 and stalled ...
    zombie = DeltaManifest.recover(log)
    # ... while its replacement progressed to batch 1
    fresh = DeltaManifest.recover(log)
    fresh.admit(mkpart("delta/batch=1", 12))
    fresh.checkpoint(1)
    # retry-of-head republish is allowed (deterministic path, same content)
    fresh.checkpoint(1)
    # the zombie waking up and publishing batch 0 behind the head must die
    zombie.admit(str(tmp_path / "delta/batch=0"))
    with _pytest.raises(ManifestConflictError):
        zombie.checkpoint(0)
    # and the log head is untouched by the failed publish
    assert DeltaManifest.recover(log).deltas == fresh.deltas

    # TOCTOU half (ADVICE r11): a zombie that PASSES the head scan but is
    # overtaken during its publish window must die at the post-publish
    # recheck rather than continue as a second live writer. Simulate the
    # race by advancing the head from inside the zombie's own window: the
    # pre-check sees head == batch_id (allowed), the post-check sees the
    # competitor's later entry.
    racer = DeltaManifest.recover(log)
    orig = racer._head_entry
    calls = {"n": 0}

    def racing_head():
        h = orig()
        if calls["n"] == 0:  # pre-check passes at the stale head ...
            calls["n"] += 1
            return 1
        return h  # ... post-check sees the advanced head

    racer._head_entry = racing_head
    fresh.admit(mkpart("delta/batch=2", 9))
    fresh.checkpoint(2)
    with _pytest.raises(ManifestConflictError, match="while"):
        racer.checkpoint(1)


def test_delta_manifest_time_travel_recover(spark, tmp_path):
    """Each log entry is a full-state snapshot, so recover(as_of_batch=N)
    is an exact as-of read: the day-1 view must reproduce day-1's gram
    counts from the parts that entry names — valid while vacuum has not
    destroyed them (the retention bound, same as Delta Lake)."""
    from functools import reduce

    import pytest as _pytest
    from pyspark.sql import DataFrame

    from wafer_defect_data_pipeline_spark.streaming.state import DeltaManifest

    base = str(tmp_path / "base/v0")
    d0, d1 = str(tmp_path / "delta/batch=0"), str(tmp_path / "delta/batch=1")
    spark.createDataFrame([("a", 2), ("b", 1)], "gh string, n int").write.parquet(base)
    spark.createDataFrame([("b", 3), ("c", 1)], "gh string, n int").write.parquet(d0)
    spark.createDataFrame([("c", 4)], "gh string, n int").write.parquet(d1)

    log = str(tmp_path / "_log")
    man = DeltaManifest(base, compact_every=9, log_dir=log)
    man.checkpoint(-1)
    man.admit(d0)
    man.checkpoint(0)
    man.admit(d1)
    man.checkpoint(1)

    asof = DeltaManifest.recover(log, as_of_batch=0)
    assert asof.deltas == [d0]  # day-2's delta is not in the as-of view
    view = reduce(
        DataFrame.unionByName,
        [spark.read.parquet(p) for p in [asof.base, *asof.deltas]],
    ).groupBy("gh").sum("n").collect()
    assert {(r[0], r[1]) for r in view} == {("a", 2), ("b", 4), ("c", 1)}
    # genesis travel and out-of-range travel behave
    assert DeltaManifest.recover(log, as_of_batch=-1).deltas == []
    with _pytest.raises(FileNotFoundError):
        DeltaManifest.recover(log, as_of_batch=-2)


def test_delta_manifest_log_pruning_keeps_recovery(tmp_path):
    """Log retention: pruning old entries leaves the head (and recovery)
    intact while shrinking the time-travel horizon — the log stays
    O(keep_last) on a multi-year stream, and the head is never removed
    even with keep_last=0."""
    import pytest as _pytest

    from wafer_defect_data_pipeline_spark.streaming.state import DeltaManifest

    def mkpart(name: str, nbytes: int) -> str:
        p = tmp_path / name
        p.mkdir(parents=True)
        (p / "part-0").write_bytes(b"x" * nbytes)
        return str(p)

    log = str(tmp_path / "_log")
    man = DeltaManifest(mkpart("base/v0", 100), compact_every=9, log_dir=log)
    man.checkpoint(-1)
    for i in range(5):
        man.admit(mkpart(f"delta/batch={i}", 10 + i))
        man.checkpoint(i)

    assert man.prune_log(keep_last=2) == 4  # entries -1,0,1,2 removed
    rec = DeltaManifest.recover(log)  # head (batch 4) untouched
    assert rec.deltas == man.deltas
    DeltaManifest.recover(log, as_of_batch=3)  # still inside the horizon
    with _pytest.raises(FileNotFoundError):  # horizon shrank with the prune
        DeltaManifest.recover(log, as_of_batch=1)
    assert man.prune_log(keep_last=0) == 1  # keeps the head regardless
    assert DeltaManifest.recover(log).deltas == man.deltas


def test_tree_bytes_is_bounded(tmp_path):
    """Stats are diagnostics, never semantics: above the file-count bound
    the walk stops and reports -1 instead of paying a driver-side O(files)
    scan per admit on a large accumulated index tree."""
    from wafer_defect_data_pipeline_spark.streaming.state import tree_bytes

    for i in range(20):
        (tmp_path / f"f{i}").write_bytes(b"x" * 5)
    assert tree_bytes(str(tmp_path)) == 100  # exact below the bound
    assert tree_bytes(str(tmp_path), max_files=10) == -1  # bounded above


def test_streaming_span_restart_matches_single_run(spark, sf_small, no_tmp_residue):
    """Kill-between-days recovery, end to end: day 2 runs in a FRESH query
    lifetime with the manifest rebuilt from the durable transaction log and
    Spark's checkpointLocation skipping day 1's file. Output must be
    bit-equal to the single-run delta twin, and the recovered manifest must
    carry day 1's byte ledger into day 2 (proof the state crossed the
    restart through the log, not through driver memory)."""
    from wafer_defect_data_pipeline_spark.streaming.dedup import (
        run_streaming_span_dedup_delta,
        run_streaming_span_dedup_delta_restart,
    )

    single = run_streaming_span_dedup_delta(
        spark, sf_small, k=20, min_span=40
    ).collect()
    stats: dict = {}
    restarted = run_streaming_span_dedup_delta_restart(
        spark, sf_small, k=20, min_span=40, stats=stats
    ).collect()
    assert len(single) > 0
    assert [tuple(r) for r in restarted] == [tuple(r) for r in single]
    # two admits recorded on the FINAL recovered manifest: day 1's entry
    # survived the restart only because the log carried it
    assert len(stats["admit_bytes_per_batch"]) == 2


def test_streaming_minhash_restart_matches_single_run(spark, sf_small, no_tmp_residue):
    """Same kill-between-days drill for the minhash admit loop."""
    from wafer_defect_data_pipeline_spark.streaming.dedup import (
        run_streaming_minhash_probe_delta,
        run_streaming_minhash_probe_delta_restart,
    )

    single = run_streaming_minhash_probe_delta(spark, sf_small, threshold=0.4).collect()
    stats: dict = {}
    restarted = run_streaming_minhash_probe_delta_restart(
        spark, sf_small, threshold=0.4, stats=stats
    ).collect()
    assert len(single) > 0
    assert [tuple(r) for r in restarted] == [tuple(r) for r in single]
    assert len(stats["admit_bytes_per_batch"]) == 2


def test_streaming_ann_restart_matches_single_run(spark, sf_small, no_tmp_residue):
    """Kill-between-days drill for the ANN admit loop: day 2 probes must
    retrieve day 1's admitted vectors through the RECOVERED manifest (the
    near-dup plant's true neighbour exists only via the admission step), so
    bit-equality with the single-run twin proves the vector index
    bookkeeping crossed the restart through the durable log."""
    from wafer_defect_data_pipeline_spark.streaming.similarity import (
        run_streaming_ann_probe,
        run_streaming_ann_probe_restart,
    )

    single = run_streaming_ann_probe(spark, sf_small, k=3).collect()
    stats: dict = {}
    restarted = run_streaming_ann_probe_restart(
        spark, sf_small, k=3, stats=stats
    ).collect()
    assert len(single) > 0
    assert [tuple(r) for r in restarted] == [tuple(r) for r in single]
    assert len(stats["admit_bytes_per_batch"]) == 2


def test_streaming_bm25_standing_restart_matches_single_run(spark, sf_small, no_tmp_residue):
    """Kill-between-days drill for the standing-query loop: day 2's page is
    scored against postings/doclens/corpus-stats parts the RECOVERED
    manifest lists (including day 1's deltas — the df/N/avgdl shifts cross
    the restart through the log), and day 1's already-written page
    survives. Bit-equality with the single-run twin pins all of it."""
    from wafer_defect_data_pipeline_spark.streaming.search import (
        run_streaming_bm25_standing,
        run_streaming_bm25_standing_restart,
    )

    single = run_streaming_bm25_standing(spark, sf_small, k=10).collect()
    stats: dict = {}
    restarted = run_streaming_bm25_standing_restart(
        spark, sf_small, k=10, stats_out=stats
    ).collect()
    assert len(single) > 0
    assert [tuple(r) for r in restarted] == [tuple(r) for r in single]
    assert len(stats["admit_bytes_per_batch"]) == 2


# --- round 11: executed PNG codec (compressed-image honesty gate closed) ----


def test_jpeg_codec_baseline_roundtrip():
    """The T.81 baseline grayscale codec: (1) constant-per-block fixtures
    round-trip BIT-EXACTLY (all energy in DC, K.1 DC quantizer 16 divides
    the 16k coefficient — the property the exact oracle stands on); (2) a
    smooth gradient round-trips within a small quantization error (the
    lossy path is real, not a bypass); (3) full-entropy noise exercises
    the AC run-length/ZRL/EOB and byte-stuffing paths structurally; (4)
    SOF1 extended sequential decodes (superset of baseline), the honesty
    gate stays for lossless/arithmetic headers, and a stream mislabeled
    SOF2 around a full-band scan is rejected as malformed (progressive
    scans may not span DC and AC — T.81 §G.1)."""
    import numpy as np
    import pytest as _pytest

    from wafer_defect_data_pipeline_spark.operators.multimodal import (
        jpeg_decode,
        jpeg_encode,
    )

    for i in (0, 1, 5, 17, 123, 999):
        nbx, nby = 1 + i % 3, 1 + i % 2
        arr = np.empty((nby * 8, nbx * 8), dtype=np.uint8)
        for b in range(nbx * nby):
            by, bx = divmod(b, nbx)
            k = (i + 7 * b) % 128 - 64
            arr[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = 128 + 2 * k
        assert (jpeg_decode(jpeg_encode(arr)) == arr).all(), i

    x = np.linspace(0, 255, 32)
    grad = (np.add.outer(x, x) / 2).astype(np.uint8)
    err = np.abs(jpeg_decode(jpeg_encode(grad)).astype(int) - grad.astype(int))
    assert err.max() <= 8 and err.mean() <= 3  # lossy but tight on smooth input

    noise = np.random.default_rng(11).integers(0, 256, (16, 24)).astype(np.uint8)
    dec = jpeg_decode(jpeg_encode(noise))
    assert dec.shape == noise.shape  # AC/ZRL/EOB + stuffing survived

    good = jpeg_encode(np.full((8, 8), 200, dtype=np.uint8))
    # SOF1 extended sequential is a strict superset of baseline: the same
    # stream relabeled must decode identically (8-bit Huffman path)
    extended = good.replace(b"\xff\xc0", b"\xff\xc1", 1)
    assert (jpeg_decode(extended) == jpeg_decode(good)).all()
    # 16-bit DQT entries (pq=1, big-endian) with the same values must
    # decode identically too (extended-profile table precision)
    import struct as _struct

    dqt16 = (
        good[:2] + b"\xff\xdb\x00\x83\x10"
        + _struct.pack(">64H", *good[7:71]) + good[71:]
    )
    assert (jpeg_decode(dqt16) == jpeg_decode(good)).all()
    lossless = good.replace(b"\xff\xc0", b"\xff\xc3", 1)
    with _pytest.raises(NotImplementedError):
        jpeg_decode(lossless)
    mislabeled = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with _pytest.raises(ValueError):
        jpeg_decode(mislabeled)  # SOF2 with a DC+AC full-band scan is malformed
    with _pytest.raises(ValueError):
        jpeg_decode(b"\x89PNG not a jpeg")
    # a scan referencing an undefined DHT slot is a CORRUPT STREAM and must
    # classify as ValueError, not AttributeError-on-None (r12 ADVICE — the
    # quarantine path records the exception class as the error taxonomy)
    no_dht = good
    while (j := no_dht.find(b"\xff\xc4")) != -1:
        seg = int.from_bytes(no_dht[j + 2 : j + 4], "big")
        no_dht = no_dht[:j] + no_dht[j + 2 + seg :]
    with _pytest.raises(ValueError, match="missing Huffman"):
        jpeg_decode(no_dht)


def test_jpeg_progressive_decode_equals_baseline():
    """Progressive (SOF2) is an entropy REORDERING of the same quantized
    coefficients, so decoding the progressive encoding of any image must
    equal the baseline decode BIT-EXACTLY — across grayscale/4:4:4/4:2:0,
    restart intervals, and successive-approximation depths (the strongest
    possible check on every §G.2 path: DC first/refine, AC first with EOB
    runs, fig-G.7 AC refinement with ZRL folding and correction bits)."""
    import numpy as np

    from wafer_defect_data_pipeline_spark.operators.multimodal import (
        jpeg_decode,
        jpeg_encode,
        jpeg_encode_progressive,
    )

    rng = np.random.default_rng(7)
    for shape, sub in [((16, 24), "444"), ((32, 32), "444"),
                       ((24, 32, 3), "444"), ((32, 48, 3), "420")]:
        a = rng.integers(0, 256, shape).astype(np.uint8)
        base = jpeg_decode(jpeg_encode(a, subsample=sub))
        for ri in (0, 2):
            for al in (1, 2):
                prog = jpeg_encode_progressive(
                    a, subsample=sub, restart_interval=ri, al=al
                )
                assert b"\xff\xc2" in prog  # really SOF2, not a baseline alias
                assert (jpeg_decode(prog) == base).all(), (shape, sub, ri, al)

    # constant-block fixtures stay BIT-EXACT through the progressive path
    # (the property the multimodal_jpeg_progressive_decode_stats oracle
    # stands on)
    for i in (0, 1, 5, 17, 123, 999):
        nbx, nby = 2 * (1 + i % 3), 2 * (1 + i % 2)
        g = np.empty((nby * 8, nbx * 8), dtype=np.uint8)
        for b in range(nbx * nby):
            by, bx = divmod(b, nbx)
            k = (i + 7 * b) % 128 - 64
            g[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = 128 + 2 * k
        rgb = np.stack([g, g, g], axis=-1)
        dec = jpeg_decode(
            jpeg_encode_progressive(rgb, subsample="420", restart_interval=2)
        )
        assert (dec == rgb).all(), i


def test_ivf_auto_probe_empty_sample_falls_back_to_all_cells(spark):
    """When the md5-uniform sample is empty (tiny corpus, large
    sample_mod), the auto probe must fall back to probing EVERY cell —
    the conservative exact-search answer — instead of dividing by zero or
    guessing."""
    from wafer_defect_data_pipeline_spark.operators.similarity import (
        ivf_auto_n_probe,
    )

    rows = [(i, [float(i), 1.0, 0.0, 0.5], i % 3) for i in range(12)]
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    # sample_mod far above the corpus size -> near-certainly empty sample;
    # md5 is deterministic, so assert the premise rather than assume it
    from pyspark.sql import functions as F2

    sampled = e.filter(
        F2.conv(F2.substring(F2.md5(F2.col("vec_id").cast("string")), 1, 15), 16, 10)
        .cast("long") % F2.lit(10_000_000) == 0
    ).count()
    assert sampled == 0
    assert ivf_auto_n_probe(e, k=2, sample_mod=10_000_000) == 3  # = n distinct cells


def test_ivf_sample_mod_caps_probe_sample_at_every_scale():
    """r12 verdict item 1: the recall probe's sampling modulus must be
    DERIVED so the sample stays ~target queries regardless of corpus size —
    the probe cost is then O(target x n), linear, never O(n^2/mod). Pins
    the cap at the two driver corpus sizes and at cluster scale."""
    from wafer_defect_data_pipeline_spark.operators.similarity import (
        ivf_sample_mod,
    )

    # the two testdata corpus sizes: sf0.01 (500 rows) reproduces the
    # historical sample_mod=10; sf0.1 (2000 rows) scales it to 40
    assert ivf_sample_mod(500, 50) == 10
    assert ivf_sample_mod(2000, 50) == 40
    # expected sample size n/mod is capped by target at every scale
    for n in (1, 499, 500, 2000, 10_000, 1_000_000, 10**9):
        for target in (50, 500):
            assert n / ivf_sample_mod(n, target) <= target
    # degenerate inputs stay safe
    assert ivf_sample_mod(0, 500) == 1
    assert ivf_sample_mod(10, 0) == 10


def test_nsw_scale_params_match_measured_anchors():
    """The executable deployment rule must reproduce BOTH measured recall
    anchors from BASELINE.md's decade study exactly: the sf1 config
    (20k vectors -> recall 0.97) and the sf10 config (200k -> 0.958),
    and every knob must be monotone nondecreasing in corpus size."""
    from wafer_defect_data_pipeline_spark.operators.graph_ann import (
        nsw_scale_params,
    )

    p1 = nsw_scale_params(20_000)
    assert (p1["k_build"], p1["n_probe"], p1["beam_width"]) == (16, 3, 16)
    assert p1["n_cells"] == 128 and p1["entry_sample_mod"] == 71

    p10 = nsw_scale_params(200_000)
    assert (p10["k_build"], p10["n_probe"], p10["beam_width"]) == (32, 4, 32)
    assert p10["n_cells"] == 512 and p10["entry_sample_mod"] == 224

    # third anchor (r13, BASELINE round-13): the INTERPOLATED mid-decade
    # point, validated live at sf3 — 60k vectors read recall@5 0.955 with
    # exactly these derived parameters (tools/validate_nsw_sf3.py)
    p3 = nsw_scale_params(60_000)
    assert (p3["k_build"], p3["n_probe"], p3["beam_width"]) == (22, 4, 22)
    assert p3["n_cells"] == 256 and p3["entry_sample_mod"] == 122

    prev = nsw_scale_params(1_000)
    for n in (10_000, 100_000, 1_000_000, 10_000_000):
        cur = nsw_scale_params(n)
        for k in cur:
            assert cur[k] >= prev[k], (n, k)
        prev = cur
    assert nsw_scale_params(10_000_000)["k_build"] == 64  # clamp holds


def test_decode_image_quarantine_contract(spark, sf_small):
    """on_error='quarantine' must turn corrupt payloads into error rows
    (exception class, null stats) while valid rows keep real decoded
    stats — and the default raise mode must still fail loudly on the same
    mixed corpus (quarantining silently by default would hide data bugs)."""
    import pytest as _pytest
    from pyspark.errors import PySparkException

    from wafer_defect_data_pipeline_spark.operators.multimodal import (
        attach_mixed_image_payloads,
        decode_image,
    )

    d = read_table(spark, sf_small, "documents").limit(40)
    mixed = attach_mixed_image_payloads(d).localCheckpoint(eager=False)
    out = decode_image(mixed, on_error="quarantine").toPandas()
    assert len(out) == 40
    v = out["doc_id"] % 4
    assert (out.loc[v <= 1, "error"].isna()).all()
    assert (out.loc[v == 2, "error"] == "ValueError").all()
    assert (out.loc[v == 3, "error"] == "NotImplementedError").all()
    assert out.loc[v <= 1, "width"].notna().all()
    assert out.loc[v >= 2, "width"].isna().all()
    # default mode on the same corpus: the task must die, not quarantine
    with _pytest.raises(PySparkException):
        decode_image(mixed).toPandas()
    with _pytest.raises(ValueError):
        decode_image(mixed, on_error="skip")


def test_jpeg_progressive_cross_block_eob_run():
    """The repo's progressive encoder flushes EOB runs per block, but
    real-world encoders span MANY blocks with one EOBn code — hand-craft
    such a stream (T.81 §G.1.2.2: run length (1 << r) + r extra bits) and
    pin the decoder's cross-block EOB-run bookkeeping in both the AC
    first scan and the AC refinement scan."""
    import numpy as np

    from wafer_defect_data_pipeline_spark.operators.multimodal import (
        _JPEG_AC_BITS,
        _JPEG_AC_VALS,
        _JPEG_DC_BITS,
        _JPEG_DC_VALS,
        _jpeg_canonical_codes,
        _jpeg_headers,
        _jpeg_magnitude,
        _JpegBitWriter,
        jpeg_decode,
    )

    # 3x2 = 6 constant blocks (DC-only), grayscale
    nbx, nby = 3, 2
    arr = np.empty((nby * 8, nbx * 8), dtype=np.uint8)
    dcs = []
    for b in range(nbx * nby):
        by, bx = divmod(b, nbx)
        k = (5 + 7 * b) % 128 - 64
        arr[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = 128 + 2 * k
        dcs.append(k)  # K.1 DC quantizer 16 divides the 16k coefficient
    dc_codes = _jpeg_canonical_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_canonical_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)

    def sos(seg, spec, ss, se, ah, al, data):
        return seg(0xFFDA, bytes([1]) + spec + bytes([ss, se, (ah << 4) | al])) + data

    out, seg = _jpeg_headers(arr.shape[0], arr.shape[1],
                             [(arr, 1, 1, None, dc_codes, ac_codes)], 0xFFC2, 0)
    # EOBn symbols (r>0, s=0) are NOT in the standard K.5 table — real
    # progressive streams ship custom DHTs. Override AC table (1,0) with a
    # two-symbol table {EOB2=0x20: code 0/len 1, EOB=0x00: code 10/len 2},
    # which also exercises DHT redefinition between header and scan.
    out += seg(0xFFC4, bytes([0x10, 1, 1] + [0] * 14 + [0x20, 0x00]))
    eobn = {0x20: (0, 1), 0x00: (2, 2)}
    # scan 1: DC first at Al=1 (diffs of dc >> 1)
    bw = _JpegBitWriter()
    pred = 0
    for dc in dcs:
        s, bits_ = _jpeg_magnitude((dc >> 1) - pred)
        bw.put(*dc_codes[s])
        if s:
            bw.put(bits_, s)
        pred = dc >> 1
    bw.flush()
    out += sos(seg, bytes([1, 0x00]), 0, 0, 0, 1, bytes(bw.out))
    # scan 2: AC first — ONE EOBn spanning all 6 blocks (r=2, extra bits 2)
    bw = _JpegBitWriter()
    bw.put(*eobn[0x20])  # EOBn symbol with r=2
    bw.put(2, 2)  # run = (1 << 2) + 2 = 6 blocks
    bw.flush()
    out += sos(seg, bytes([1, 0x00]), 1, 63, 0, 1, bytes(bw.out))
    # scan 3: DC refinement — raw bit (dc & 1) per block
    bw = _JpegBitWriter()
    for dc in dcs:
        bw.put(dc & 1, 1)
    bw.flush()
    out += sos(seg, bytes([1, 0x00]), 0, 0, 1, 0, bytes(bw.out))
    # scan 4: AC refinement — again one cross-block EOBn, no correction bits
    bw = _JpegBitWriter()
    bw.put(*eobn[0x20])
    bw.put(2, 2)
    bw.flush()
    out += sos(seg, bytes([1, 0x00]), 1, 63, 1, 0, bytes(bw.out))
    out += b"\xff\xd9"

    assert (jpeg_decode(out) == arr).all()


def test_jpeg_codec_color_444_roundtrip():
    """The 4:4:4 color path: gray-in-RGB constant blocks round-trip
    BIT-EXACTLY through the full 3-component pipeline (BT.601 both ways,
    MCU interleave, per-component DC predictors, dual quant + Huffman
    tables) — the property the color oracle stands on; genuinely
    chromatic smooth input round-trips within a small quantization error
    (the chroma tables and second table set really execute); subsampled
    headers stay gated."""
    import numpy as np
    import pytest as _pytest

    from wafer_defect_data_pipeline_spark.operators.multimodal import (
        jpeg_decode,
        jpeg_encode,
    )

    for i in (0, 7, 255):
        nbx, nby = 1 + i % 3, 1 + i % 2
        g = np.empty((nby * 8, nbx * 8), dtype=np.uint8)
        for b in range(nbx * nby):
            by, bx = divmod(b, nbx)
            k = (i + 7 * b) % 128 - 64
            g[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = 128 + 2 * k
        rgb = np.stack([g, g, g], axis=-1)
        assert (jpeg_decode(jpeg_encode(rgb)) == rgb).all(), i

    x = np.linspace(0, 255, 32)
    r = np.add.outer(x, x) / 2
    rgb = np.stack([r, 255 - r, np.full_like(r, 90.0)], axis=-1).astype(np.uint8)
    err = np.abs(jpeg_decode(jpeg_encode(rgb)).astype(int) - rgb.astype(int))
    assert err.max() <= 10 and err.mean() <= 4

    color = jpeg_encode(rgb)
    oversampled = color.replace(bytes([1, 0x11, 0]), bytes([1, 0x31, 0]), 1)
    with _pytest.raises(NotImplementedError):  # factors >2 stay gated
        jpeg_decode(oversampled)


def test_jpeg_codec_420_subsampled_roundtrip():
    """The 4:2:0 path (r12): gray-in-RGB constant blocks round-trip
    BIT-EXACTLY through 2x2-luma MCUs with box-downsampled chroma —
    neutral chroma (128) survives the downsample/quantize/upsample chain
    at any subsampling, the property the 420 oracle stands on. Restart
    markers (DRI + RSTn predictor resets) round-trip at several
    intervals; genuinely chromatic input is lossy-but-close (the
    subsample really executes); ADVICE r11 regressions: standalone
    markers before SOS are walked without a length word, and a DQT whose
    precision nibble claims 16-bit entries over an 8-bit-sized body is
    rejected as malformed (16-bit tables themselves now decode — see
    test_jpeg_codec_baseline_roundtrip)."""
    import numpy as np
    import pytest as _pytest

    from wafer_defect_data_pipeline_spark.operators.multimodal import (
        jpeg_decode,
        jpeg_encode,
    )

    for i in (0, 3, 11, 254):
        nbx, nby = 2 * (1 + i % 2), 2 * (1 + i % 3)
        g = np.empty((nby * 8, nbx * 8), dtype=np.uint8)
        for b in range(nbx * nby):
            by, bx = divmod(b, nbx)
            k = (i + 7 * b) % 128 - 64
            g[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = 128 + 2 * k
        rgb = np.stack([g, g, g], axis=-1)
        assert (jpeg_decode(jpeg_encode(rgb, subsample="420")) == rgb).all(), i
        for ri in (1, 2, 7):  # restart markers: byte realign + DC reset
            enc = jpeg_encode(rgb, subsample="420", restart_interval=ri)
            assert b"\xff\xdd" in enc and (jpeg_decode(enc) == rgb).all(), (i, ri)
        assert (jpeg_decode(jpeg_encode(g, restart_interval=2)) == g).all(), i

    x = np.linspace(0, 255, 32)
    r = np.add.outer(x, x) / 2
    rgb = np.stack([r, 255 - r, np.full_like(r, 90.0)], axis=-1).astype(np.uint8)
    err = np.abs(jpeg_decode(jpeg_encode(rgb, subsample="420")).astype(int) - rgb.astype(int))
    assert err.max() <= 20 and err.mean() <= 5  # chroma genuinely decimated

    good = jpeg_encode(np.full((8, 8), 200, dtype=np.uint8))
    weird = good[:2] + b"\xff\x01\xff\xd0" + good[2:]  # TEM + stray RST0
    assert (jpeg_decode(weird) == 200).all()
    bad = bytearray(good)
    assert bad[2:4] == b"\xff\xdb"
    bad[6] = 0x10  # claims 16-bit DQT entries but carries only 64 bytes
    with _pytest.raises(ValueError):
        jpeg_decode(bytes(bad))  # malformed: truncated 16-bit table


def test_png_codec_roundtrip_exercises_all_filters():
    """png_encode rotates the filter type per row (row % 5), so a >=5-row
    round-trip proves every unfilter branch (None/Sub/Up/Average/Paeth);
    CRC corruption and non-truecolor headers must be rejected, and the
    JPEG gate must stay honest."""
    import numpy as np
    import pytest as _pytest

    from wafer_defect_data_pipeline_spark.operators.multimodal import (
        png_decode,
        png_encode,
    )

    rng = np.random.default_rng(11)
    a = rng.integers(0, 256, size=(7, 9, 3), dtype=np.uint8)
    b = png_encode(a)
    assert b.startswith(b"\x89PNG\r\n\x1a\n")
    assert (png_decode(b) == a).all()
    # encoder really emitted all five filter types (first byte per scanline)
    import struct
    import zlib

    pos, idat = 8, bytearray()
    while pos + 8 <= len(b):
        (size,) = struct.unpack(">I", b[pos : pos + 4])
        if b[pos + 4 : pos + 8] == b"IDAT":
            idat += b[pos + 8 : pos + 8 + size]
        pos += 12 + size
    raw = zlib.decompress(bytes(idat))
    stride = 9 * 3
    filters = {raw[r * (1 + stride)] for r in range(7)}
    assert filters == {0, 1, 2, 3, 4}
    # CRC corruption detected
    bad = bytearray(b)
    bad[20] ^= 0xFF  # a byte inside IHDR's body
    with _pytest.raises(ValueError, match="CRC"):
        png_decode(bytes(bad))


def test_png_decode_stats_match_ppm_twin(spark, sf_small):
    """The PNG and PPM fixtures encode the SAME closed-form pixels, so the
    decoded stats must be identical row-for-row — the compressed path
    (inflate + unfilter) agrees with the uncompressed one end to end."""
    from wafer_defect_data_pipeline_spark.operators.multimodal import (
        attach_png_payload,
        attach_ppm_payload,
        decode_image,
    )

    d = read_table(spark, sf_small, "documents").limit(50)
    png = decode_image(attach_png_payload(d)).orderBy("doc_id").collect()
    ppm = decode_image(attach_ppm_payload(d)).orderBy("doc_id").collect()
    assert len(png) == 50
    assert [tuple(r) for r in png] == [tuple(r) for r in ppm]


def test_ledger_path_resolution(tmp_path, monkeypatch):
    """The ledger must land in a recognizable repo checkout (or an explicit
    env override) — never silently into site-packages (r10 advice)."""
    from wafer_defect_data_pipeline_spark.ledger import _ledger_path

    monkeypatch.setenv("SPARK_GRAFT_LEDGER_DIR", str(tmp_path))
    assert _ledger_path() == tmp_path / "TESTRUNS.jsonl"
    monkeypatch.delenv("SPARK_GRAFT_LEDGER_DIR")
    # package parent here IS the repo checkout (.git marker)
    p = _ledger_path()
    assert p.name == "TESTRUNS.jsonl"
    assert (p.parent / ".git").exists() or (p.parent / "TESTRUNS.jsonl").exists()
    # and with no markers anywhere, it refuses rather than guessing
    import wafer_defect_data_pipeline_spark.ledger as led

    monkeypatch.setattr(led, "__file__", str(tmp_path / "pkg" / "ledger.py"))
    monkeypatch.chdir(tmp_path)
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        led._ledger_path()


# --- round 11: graph-ANN recall bound (scale configuration) -----------------


def test_nsw_scale_config_recall_bound(spark, sf_small):
    """The documented scale configuration (k_build=16/n_probe=3 graph,
    md5-sampled coarse entries, beam 16) must keep recall@5 >= 0.9 vs the
    exact integer-L2 ground truth — the speed-vs-recall tradeoff BASELINE
    records at sf1 (0.973) pinned at test scale so a regression in the
    graph build, the sampled seeding, or the beam loop surfaces here."""
    from wafer_defect_data_pipeline_spark.operators.graph_ann import (
        knn_graph,
        nsw_search,
    )
    from wafer_defect_data_pipeline_spark.operators.quantization import (
        exact_int_l2_topk,
    )

    e = read_table(spark, sf_small, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    truth = exact_int_l2_topk(e, q, "vec_id", "embedding", dim=64, k_top=5)
    truth = truth.localCheckpoint(eager=False)
    n_truth = truth.count()
    g = knn_graph(e, dim=64, k_build=16, n_probe=3, n_cells=16)
    approx = nsw_search(
        g, e, q, dim=64, beam_width=16, n_hops=4, k_top=5, n_entry=16,
        entry_sample_mod=5,
    )
    hits = (
        approx.select("query_id", "corpus_id")
        .join(truth.select("query_id", "corpus_id"), ["query_id", "corpus_id"])
        .count()
    )
    assert n_truth > 0
    assert hits / n_truth >= 0.9, f"recall@5 = {hits / n_truth:.3f}"


def test_ivf_auto_probe_recall_bound_on_driver_corpus(spark, sf_medium):
    """r11 verdict item 6: IVF with a FIXED n_probe=3 reads recall@5 0.52 on
    the driver's weakly-clustered sf0.01 embeddings (BASELINE.md r10) — the
    auto path must derive a probe count from the sampled self-recall curve
    that holds recall@5 >= 0.9 on the FULL query set (not just its own
    sample) of the DRIVER corpus, and must actually widen past the old
    fixed default to do it."""
    from wafer_defect_data_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk_auto,
    )

    e = read_table(spark, sf_medium, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    truth = brute_force_topk(e, q, k=5).localCheckpoint(eager=False)
    n_truth = truth.count()
    # derived-modulus path, exactly as the registered query runs it:
    # target_queries=50 -> ceil(500/50)=10 at sf0.01 (the historical sample)
    approx = ivf_topk_auto(e, q, k=5, target_recall=0.95, target_queries=50)
    approx = approx.localCheckpoint(eager=False)
    first = approx.select("n_probe_used", "sample_mod_used").first()
    n_probe = first[0]
    assert first[1] == 10  # ceil(500 / 50) — the derivation is in the output
    hits = (
        approx.select("query_id", "corpus_id")
        .join(truth.select("query_id", "corpus_id"), ["query_id", "corpus_id"])
        .count()
    )
    assert n_truth > 0
    assert hits / n_truth >= 0.9, f"recall@5 = {hits / n_truth:.3f} (n_probe={n_probe})"
    # the derivation did real work: on THIS corpus the old fixed default
    # (n_probe=3, recall 0.52) is insufficient, so the pick must be wider
    assert n_probe > 3, f"auto pick {n_probe} did not widen past the fixed default"


def test_streaming_entity_restart_matches_single_run(spark, sf_small, no_tmp_residue):
    """Kill-between-days drill for the entity-linkage admit loop (same
    shape as the span/minhash restarts: manifest recovered from the
    durable log, checkpointLocation skips the processed file)."""
    from wafer_defect_data_pipeline_spark.streaming.dedup import (
        run_streaming_entity_linkage_delta,
        run_streaming_entity_linkage_delta_restart,
    )

    single = run_streaming_entity_linkage_delta(spark, sf_small).collect()
    stats: dict = {}
    restarted = run_streaming_entity_linkage_delta_restart(
        spark, sf_small, stats=stats
    ).collect()
    assert len(single) > 0
    assert [tuple(r) for r in restarted] == [tuple(r) for r in single]
    assert len(stats["admit_bytes_per_batch"]) == 2


def test_mllib_minhash_plan_has_no_single_partition_window(spark, sf_small):
    """r11 verdict #2: the MLlib twin's feature indices now come from a
    fixed md5 hash space (HashingTF shape), not a global row_number()
    vocabulary — the engine's one single-partition window is gone. The
    executed plan must contain no SinglePartition exchange and no Window
    operator anywhere in the lineage (the final orderBy is a range
    exchange, which is fine)."""
    from wafer_defect_data_pipeline_spark.plans.registry import all_queries

    df = all_queries()["dedup_mllib_minhash_lsh"](spark, sf_small)
    df.collect()  # materialize so AQE's final plan is inspectable
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert "Window" not in plan


def test_delta_manifest_log_checkpoint_cadence_and_replay_equivalence(tmp_path):
    """r11 verdict #4: the transaction log is Delta-style — every Nth
    entry a full-state snapshot, the rest field-level deltas. (1) The
    cadence is real on disk: with log_checkpoint_every=3 the entries
    alternate snapshot/delta as specified and delta entries are
    O(changes) small. (2) recover() from checkpoint + tail is BIT-EQUAL
    to a full sequential replay of every entry, at every as-of point.
    (3) A head republish (Structured-Streaming retry) keeps the batch's
    real changes in the overwritten entry instead of degenerating to
    empty ops. (4) prune_log snapshots the retention boundary before
    deleting older entries, so recovery at the boundary survives."""
    import json as _json
    import os as _os

    from wafer_defect_data_pipeline_spark.streaming.state import DeltaManifest

    def mkpart(name: str, nbytes: int) -> str:
        p = tmp_path / name
        p.mkdir(parents=True)
        (p / "part-0").write_bytes(b"x" * nbytes)
        return str(p)

    log = str(tmp_path / "_log")
    man = DeltaManifest(
        mkpart("base/v0", 100), compact_every=4, log_dir=log,
        log_checkpoint_every=3,
    )
    man.checkpoint(-1)  # genesis: always a snapshot
    for i in range(8):  # crosses a compaction (compact_every=4) + 2 cadences
        man.admit(mkpart(f"delta/batch={i}", 10 + i))
        if man.want_compact():
            man.finish_compact(mkpart(f"base/v{i + 1}", 200 + i), f"delta/batch={i}")
        man.checkpoint(i)

    def entry(i):
        with open(_os.path.join(log, f"batch={i}.json")) as fh:
            return _json.load(fh)

    kinds = {i: ("state" in entry(i)) for i in range(-1, 8)}
    assert kinds[-1] is True  # genesis snapshot
    # cadence 3: two deltas then a snapshot, repeating
    assert [kinds[i] for i in range(0, 8)] == [
        False, False, True, False, False, True, False, False,
    ]
    assert all("ops" in entry(i) for i, full in kinds.items() if not full)

    # (2) checkpoint+tail recovery == full replay, at every as-of point
    # (expected states materialized up front — prune deletes entries later)
    replayed, state = {}, None
    for i in range(-1, 8):
        state = DeltaManifest._apply_entry(state, entry(i))
        replayed[i] = state

    for as_of in range(-1, 8):
        rec = DeltaManifest.recover(log, as_of_batch=as_of)
        assert rec._state() == replayed[as_of], as_of
    assert DeltaManifest.recover(log)._state() == replayed[7]

    # (3) head republish: entry 7 is a delta; re-publishing batch 7 must
    # keep the real diff (the admit of delta/batch=7), not empty ops
    man.checkpoint(7)
    assert entry(7)["ops"] != {}
    assert DeltaManifest.recover(log)._state() == replayed[7]

    # (4) prune to a delta boundary: entry 4 (a delta) becomes a snapshot
    removed = man.prune_log(keep_last=4)  # keeps 4..7
    assert removed == 5  # -1, 0, 1, 2, 3
    assert "state" in entry(4)
    assert DeltaManifest.recover(log, as_of_batch=4)._state() == replayed[4]
    assert DeltaManifest.recover(log)._state() == replayed[7]


def test_dp_seeded_noise_shape(spark):
    """r12 verdict item 6: the DP mechanism's production mode draws
    randomness from a secret nonce instead of the group key. Pins (1) the
    deterministic mode is UNCHANGED (the oracle contract), (2) seeded runs
    are reproducible per seed and differ across seeds, and (3) the seeded
    noise passes a coarse two-sided-geometric shape check at eps=1:
    P(noise=0) = (1-p)/(1+p) ~ 0.462, symmetric, variance 2p/(1-p)^2 ~ 1.84."""
    import math

    from pyspark.sql import functions as F2

    from wafer_defect_data_pipeline_spark.operators.privacy import dp_group_counts

    # (1) deterministic mode: bit-equal to the md5("dp1:"||key) inline form
    keys = spark.range(50).select(F2.concat(F2.lit("k"), F2.col("id")).alias("g"))
    det = {r["g"]: r["dp_count"] for r in dp_group_counts(keys, "g").collect()}
    thresholds = F2.array(
        *[F2.lit(t) for t in __import__(
            "wafer_defect_data_pipeline_spark.operators.privacy", fromlist=["x"]
        ).geometric_thresholds(1.0)]
    )
    u1 = F2.conv(F2.substring(F2.md5(F2.concat(F2.lit("dp1:"), F2.col("g"))), 1, 15), 16, 10).cast("long")
    u2 = F2.conv(F2.substring(F2.md5(F2.concat(F2.lit("dp2:"), F2.col("g"))), 1, 15), 16, 10).cast("long")
    inline = {
        r["g"]: r["dp"]
        for r in keys.select(
            "g",
            (
                F2.lit(1)
                + F2.size(F2.filter(thresholds, lambda t: t <= u1)).cast("long")
                - F2.size(F2.filter(thresholds, lambda t: t <= u2)).cast("long")
            ).alias("dp"),
        ).collect()
    }
    assert det == inline

    # (2) per-seed reproducibility, cross-seed divergence
    many = spark.range(3000).select(F2.concat(F2.lit("g"), F2.col("id")).alias("g"))
    s7a = {r["g"]: r["dp_count"] for r in dp_group_counts(many, "g", noise="seeded", seed=7).collect()}
    s7b = {r["g"]: r["dp_count"] for r in dp_group_counts(many, "g", noise="seeded", seed=7).collect()}
    s8 = {r["g"]: r["dp_count"] for r in dp_group_counts(many, "g", noise="seeded", seed=8).collect()}
    assert s7a == s7b
    assert s7a != s8

    # (3) coarse geometric shape on the seed=7 stream (every true count is 1)
    noise = [v - 1 for v in s7a.values()]
    n = len(noise)
    p = math.exp(-1.0)
    p0 = sum(1 for x in noise if x == 0) / n
    assert abs(p0 - (1 - p) / (1 + p)) < 0.05, p0
    pos, neg = sum(1 for x in noise if x > 0), sum(1 for x in noise if x < 0)
    assert abs(pos - neg) / n < 0.05, (pos, neg)
    var = sum(x * x for x in noise) / n - (sum(noise) / n) ** 2
    assert 1.4 < var < 2.4, var  # true variance 2p/(1-p)^2 ~ 1.84


def test_ann_auto_dispatch_branches_and_recall(spark, sf_medium):
    """r12 verdict item 4: ann_topk_auto must pick the GRAPH path on the
    driver's weakly-clustered corpus (the IVF probe widens to all cells —
    pruning gone) and the IVF path on a strongly-clustered fixture (the
    probe stays narrow), holding recall@5 >= 0.9 on BOTH, each judged
    against its branch's exact ground truth."""
    from wafer_defect_data_pipeline_spark.operators.quantization import (
        exact_int_l2_topk,
    )
    from wafer_defect_data_pipeline_spark.operators.similarity import (
        ann_topk_auto,
        brute_force_topk,
    )

    def recall(approx, truth):
        approx = approx.localCheckpoint(eager=False)
        truth = truth.localCheckpoint(eager=False)
        n_truth = truth.count()
        hits = (
            approx.select("query_id", "corpus_id")
            .join(truth.select("query_id", "corpus_id"), ["query_id", "corpus_id"])
            .count()
        )
        assert n_truth > 0
        return hits / n_truth

    nsw_cfg = dict(
        k_build=16, n_probe=3, n_cells=16, beam_width=16, n_entry=16,
        entry_sample_mod=5, n_hops=4,
    )

    # driver corpus (weakly clustered): NSW branch, integer-L2 truth
    e = read_table(spark, sf_medium, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    out = ann_topk_auto(
        e, q, k=5, target_queries=50, dim=64, nsw_params=nsw_cfg
    ).localCheckpoint(eager=False)
    first = out.select("branch_used", "n_probe_used", "n_cells_used").first()
    assert first["branch_used"] == "nsw"
    assert 2 * first["n_probe_used"] > first["n_cells_used"]
    truth = exact_int_l2_topk(e, q, "vec_id", "embedding", dim=64, k_top=5)
    r = recall(out, truth)
    assert r >= 0.9, f"nsw-branch recall@5 = {r:.3f}"

    # strongly-clustered fixture (8 tight orthogonal-axis clusters): the
    # probe stays narrow -> IVF branch, cosine truth
    import math

    rows = []
    for i in range(320):
        c = i % 8
        v = [0.0] * 64
        v[c] = 1.0
        # small deterministic perturbation, unique per vector
        v[(c + 8 + i % 40) % 64] = 0.05 + 0.001 * (i % 13)
        rows.append((i, v, c))
    clustered = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    cq = clustered.filter(F.col("vec_id") % 10 == 0)
    cout = ann_topk_auto(
        clustered, cq, k=5, target_queries=50, dim=64, nsw_params=nsw_cfg
    ).localCheckpoint(eager=False)
    cfirst = cout.select("branch_used", "n_probe_used", "n_cells_used").first()
    assert cfirst["branch_used"] == "ivf"
    assert 2 * cfirst["n_probe_used"] <= cfirst["n_cells_used"]
    ctruth = brute_force_topk(clustered, cq, k=5, arrow_threshold_pairs=None)
    cr = recall(cout, ctruth)
    assert cr >= 0.9, f"ivf-branch recall@5 = {cr:.3f}"


def test_ivf_kmeans_recall_and_full_probe_exactness(spark, sf_small):
    """Production IVF (Lloyd-quantizer cells, no partition column):
    (1) probing EVERY cell must equal the exact integer-L2 top-k row for
    row — the degenerate case is a full scan, so any mismatch is a bug in
    build/assign/scoring, not an approximation; (2) on a clustered corpus
    a 2-of-16-cell probe must hold recall@5 >= 0.9 (the regime IVF exists
    for; the weakly-clustered driver corpus reads ~0.4 here, which is the
    dispatch operator's problem to route around)."""
    from wafer_defect_data_pipeline_spark.operators.quantization import (
        exact_int_l2_topk,
    )
    from wafer_defect_data_pipeline_spark.operators.similarity import (
        ivf_kmeans_topk,
    )

    e = read_table(spark, sf_small, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    exact = sorted(
        map(tuple, exact_int_l2_topk(e, q, "vec_id", "embedding", dim=64, k_top=5).collect())
    )
    full = sorted(
        map(tuple, ivf_kmeans_topk(e, q, dim=64, k=5, n_probe=16, n_cells=16).collect())
    )
    assert full == exact

    rows = []
    for i in range(320):
        c = i % 8
        v = [0.0] * 64
        v[c] = 1.0
        v[(c + 8 + i % 40) % 64] = 0.05 + 0.001 * (i % 13)
        rows.append((i, v))
    clustered = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cq = clustered.filter(F.col("vec_id") % 10 == 0)
    truth = exact_int_l2_topk(
        clustered, cq, "vec_id", "embedding", dim=64, k_top=5
    ).localCheckpoint(eager=False)
    n_truth = truth.count()
    approx = ivf_kmeans_topk(clustered, cq, dim=64, k=5, n_probe=2, n_cells=16)
    hits = (
        approx.select("query_id", "corpus_id")
        .join(truth.select("query_id", "corpus_id"), ["query_id", "corpus_id"])
        .count()
    )
    assert n_truth > 0
    r = hits / n_truth
    assert r >= 0.9, f"clustered-corpus recall@5 = {r:.3f}"


def test_ann_dispatch_labelfree_branches(spark, sf_small):
    """The label-free dispatch (quantizer cells, no partition column) must
    make the same kind of data-driven choice as the labeled one: graph
    branch on the weakly-clustered driver corpus (probe widens past half
    the quantizer cells) with recall@5 >= 0.9, IVF branch on a clustered
    corpus THAT CARRIES NO LABEL COLUMN at all."""
    from wafer_defect_data_pipeline_spark.operators.quantization import (
        exact_int_l2_topk,
    )
    from wafer_defect_data_pipeline_spark.operators.similarity import (
        ann_topk_auto_quantized,
    )

    nsw_cfg = dict(
        k_build=16, n_probe=3, n_cells=16, beam_width=16, n_entry=16,
        entry_sample_mod=5, n_hops=4,
    )
    e = read_table(spark, sf_small, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    out = ann_topk_auto_quantized(
        e, q, k=5, target_queries=50, dim=64, n_cells=16, nsw_params=nsw_cfg
    ).localCheckpoint(eager=False)
    first = out.select("branch_used", "n_probe_used", "n_cells_used").first()
    assert first["branch_used"] == "nsw"
    truth = exact_int_l2_topk(e, q, "vec_id", "embedding", dim=64, k_top=5)
    truth = truth.localCheckpoint(eager=False)
    n_truth = truth.count()
    hits = (
        out.select("query_id", "corpus_id")
        .join(truth.select("query_id", "corpus_id"), ["query_id", "corpus_id"])
        .count()
    )
    assert n_truth > 0 and hits / n_truth >= 0.9, hits / n_truth

    rows = []
    for i in range(320):
        c = i % 8
        v = [0.0] * 64
        v[c] = 1.0
        v[(c + 8 + i % 40) % 64] = 0.05 + 0.001 * (i % 13)
        rows.append((i, v))
    clustered = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cq = clustered.filter(F.col("vec_id") % 10 == 0)
    cout = ann_topk_auto_quantized(
        clustered, cq, k=5, target_queries=50, dim=64, n_cells=16,
        nsw_params=nsw_cfg,
    ).localCheckpoint(eager=False)
    cfirst = cout.select("branch_used", "n_probe_used", "n_cells_used").first()
    assert cfirst["branch_used"] == "ivf"
    assert 2 * cfirst["n_probe_used"] <= cfirst["n_cells_used"]


def test_ann_dispatch_redecide_trigger_and_versioning(spark, tmp_path):
    """r13 verdict item 1, the contract pieces: (1) the staleness trigger
    fires on growth >= 1.5x or on the batch-count override and stays quiet
    on a small admission; (2) a re-decision is persisted BESIDE the old
    version (audit trail), the loader returns the latest, and
    decision_age_batches increments while serving a STALE decision."""
    from wafer_defect_data_pipeline_spark.operators.similarity import (
        ann_dispatch_should_redecide,
        load_latest_dispatch_decision,
        persist_dispatch_decision,
    )

    # trigger rule
    assert not ann_dispatch_should_redecide(1050, 1000, 1)
    assert ann_dispatch_should_redecide(1500, 1000, 1)
    assert ann_dispatch_should_redecide(2000, 1000, 0)
    assert ann_dispatch_should_redecide(1050, 1000, 1, every_batches=1)
    assert not ann_dispatch_should_redecide(1050, 1000, 1, every_batches=2)

    # versioned persistence: v2 lands beside v1, loader picks the latest
    base = str(tmp_path / "disp")
    persist_dispatch_decision(spark, base, 1, "ivf", 2, 10, 0, 1000)
    d1 = load_latest_dispatch_decision(spark, base)
    assert (d1["version"], d1["branch"]) == (1, "ivf")
    # small admission at batch 1: no re-decision -> the SAME row serves
    # with age 1 - 0 = 1
    assert 1 - int(d1["decided_at_batch"]) == 1
    persist_dispatch_decision(spark, base, 2, "nsw", 6, 10, 1, 1500)
    d2 = load_latest_dispatch_decision(spark, base)
    assert (d2["version"], d2["branch"], d2["decided_at_batch"]) == (2, "nsw", 1)
    # both versions remain on disk — audit trail, not overwrite
    both = spark.read.parquet(f"{base}/decision/v*")
    assert sorted(r["version"] for r in both.collect()) == [1, 2]
    # r15: the one-row artifact is written by ONE task as ONE part file
    # (single-slice parallelize — the default createDataFrame fanned it out
    # to a file per core, and coalesce(1) measured ~5 s flat per write)
    import glob

    for v in (1, 2):
        parts = glob.glob(f"{base}/decision/v{v}/part-*")
        assert len(parts) == 1, parts


def test_load_latest_dispatch_decision_empty_dir_names_base(spark, tmp_path):
    """A decision dir that holds no rows is a missing decision: the loader
    raises a ValueError naming the base, not a bare ``max()`` failure."""
    import re

    import pytest as _pytest

    from wafer_defect_data_pipeline_spark.operators.similarity import (
        _DECISION_SCHEMA,
        load_latest_dispatch_decision,
    )

    base = str(tmp_path)
    spark.createDataFrame([], _DECISION_SCHEMA).write.parquet(f"{base}/decision/v0")
    with _pytest.raises(ValueError, match=re.escape(base)):
        load_latest_dispatch_decision(spark, base)


def test_recall_drift_trigger_constant_size_shape_drift(spark):
    """r14 verdict item 6: a corpus that drifts in SHAPE at constant size
    never trips the growth/batch-count triggers — the recall-drift trigger
    is the only signal. Drill: an axis-spike clustered corpus prices
    n_probe=1; replacing every vector IN PLACE with noise (same ids, same
    labels, same count) collapses ivf_recall_at(n_probe=1) below any sane
    floor, and ann_dispatch_should_redecide fires on the recall term while
    the count terms stay provably silent."""
    from wafer_defect_data_pipeline_spark.operators.similarity import (
        ann_dispatch_should_redecide,
        ivf_recall_at,
    )

    # pure trigger arithmetic: recall term fires independently of growth
    assert not ann_dispatch_should_redecide(1000, 1000, 1)  # constant size
    assert ann_dispatch_should_redecide(
        1000, 1000, 1, served_recall=0.4, recall_floor=0.9
    )
    assert not ann_dispatch_should_redecide(
        1000, 1000, 1, served_recall=0.95, recall_floor=0.9
    )
    # floor unset -> recall ignored (backward-compatible default)
    assert not ann_dispatch_should_redecide(1000, 1000, 1, served_recall=0.1)

    # measured drill on a real corpus, constant size throughout
    import hashlib

    def noise(tag, i, j):
        h = hashlib.md5(f"{tag}:{i}:{j}".encode()).hexdigest()
        return int(h[:2], 16) / 256.0

    n = 400
    day1_rows = [
        (
            i,
            i % 8,
            [
                (4.0 if j == i % 8 else 0.0) + noise("t1", i, j)
                for j in range(64)
            ],
        )
        for i in range(n)
    ]
    day2_rows = [
        (i, i % 8, [noise("t2", i, j) for j in range(64)]) for i in range(n)
    ]
    schema = "vec_id long, label int, embedding array<double>"
    snap1 = spark.createDataFrame(day1_rows, schema)
    snap2 = spark.createDataFrame(day2_rows, schema)

    r1 = ivf_recall_at(snap1, n_probe=1, target_queries=50)
    r2 = ivf_recall_at(snap2, n_probe=1, target_queries=50)
    assert r1 >= 0.9, r1  # clustered: n_probe=1 serves fine
    assert r2 < 0.5, r2  # in-place noise: recall@1 collapses
    # growth trigger blind (count constant), recall trigger fires
    assert not ann_dispatch_should_redecide(n, n, 1)
    assert ann_dispatch_should_redecide(
        n, n, 1, served_recall=r2, recall_floor=0.9
    )
    # empty sample -> 1.0 (no evidence of drift must not fire the trigger)
    empty = spark.createDataFrame([], schema)
    assert ivf_recall_at(empty, n_probe=1, sample_mod=1) == 1.0


def test_ann_dispatch_redecide_recall_holds_on_both_branches(spark, sf_small):
    """r13 verdict item 1, the quality gate: on the staged drift corpus the
    decision flips ivf -> nsw, and the branch each day actually serves
    must hold recall@5 >= 0.9 against its exact ground truth (cosine
    brute force for the IVF day, exact integer L2 for the NSW day — each
    branch's own metric)."""
    from pyspark.sql import functions as F2

    from wafer_defect_data_pipeline_spark.operators.quantization import (
        exact_int_l2_topk,
    )
    from wafer_defect_data_pipeline_spark.operators.similarity import (
        ann_dispatch_decision,
        brute_force_topk,
    )
    from wafer_defect_data_pipeline_spark.plans.queries_similarity import (
        _redecide_serve,
        _staged_redecide_snapshots,
    )

    snap1, batch = _staged_redecide_snapshots(spark, sf_small)
    snap1 = snap1.localCheckpoint(eager=False)
    snap2 = snap1.unionByName(batch).localCheckpoint(eager=False)

    p1, c1, b1 = ann_dispatch_decision(snap1, target_queries=50)
    p2, c2, b2 = ann_dispatch_decision(snap2, target_queries=50)
    assert b1 == "ivf" and b2 == "nsw", (b1, p1, c1, b2, p2, c2)

    def recall(got, truth):
        g = {(r["query_id"], r["corpus_id"]) for r in got.collect()}
        t = {(r["query_id"], r["corpus_id"]) for r in truth.collect()}
        return len(g & t) / len(t)

    q1 = snap1.filter(F2.col("vec_id") % 50 == 0)
    day1 = _redecide_serve(
        snap1, q1, {"branch": b1, "n_probe": p1, "n_cells": c1}
    )
    r1 = recall(day1, brute_force_topk(snap1, q1, k=5))
    assert r1 >= 0.9, r1

    q2 = snap2.filter(F2.col("vec_id") % 50 == 0)
    day2 = _redecide_serve(
        snap2, q2, {"branch": b2, "n_probe": p2, "n_cells": c2}
    )
    r2 = recall(
        day2, exact_int_l2_topk(snap2, q2, "vec_id", "embedding", dim=64, k_top=5)
    )
    assert r2 >= 0.9, r2


def test_ann_dispatch_redecide_rerunnable_same_process(spark, sf_small):
    """Review finding (r14): a prior invocation's decision/v2 survived in
    the pid-keyed scratch, so a second same-process run loaded the stale
    v2 as day 1's decision and served the wrong branch (bench runs this
    query 4x per process). The query now wipes its decision dir at entry:
    two consecutive runs must produce IDENTICAL rows."""
    from wafer_defect_data_pipeline_spark.plans.registry import _ordered

    fn = _ordered()["similarity_ann_dispatch_redecide"].fn
    r1 = [tuple(r) for r in fn(spark, sf_small).collect()]
    r2 = [tuple(r) for r in fn(spark, sf_small).collect()]
    assert r1 == r2
    # and the staged flip is present: day 1 ivf v1, day 2 nsw v2, age 0
    days = {(r[0], r[4], r[7], r[8]) for r in r1}
    assert days == {(1, "ivf", 1, 0), (2, "nsw", 2, 0)}, days


def test_int_l2_kernels_match_pre_consolidation_shapes(spark):
    """r13 verdict item 3: the four integer-L2 scorer copies
    (assign_coarse_cells, knn_graph's cell_knn, nsw_search's score, the
    IVF candidate scorer) now share quantization.int_l2_topk_block /
    score_int_l2_pairs. Safety net: drive both shared kernels against
    inline replicas of the OLD per-site code on deterministic data —
    including distance ties, the one place a tie-break divergence would
    silently reorder ANN output."""
    import numpy as np

    from pyspark.sql import functions as F2

    from wafer_defect_data_pipeline_spark.operators.quantization import (
        int_l2_topk_block,
        score_int_l2_pairs,
    )

    # --- numpy shape 1: assign_coarse_cells (no exclusion, ids = codes) ---
    rng = [(i * 2654435761) % 97 for i in range(6 * 4)]
    C = np.array(rng, np.float64).reshape(6, 4)
    C[3] = C[1]  # planted exact tie between codes 1 and 3
    x = C[1].copy()
    codes = np.arange(6)
    new_ids, new_d = int_l2_topk_block(x, C, codes, 3)
    old_order = np.lexsort((np.arange(6), ((C - x) ** 2).sum(axis=1)))[:3]
    assert list(new_ids) == list(old_order)
    assert list(new_ids[:2]) == [1, 3]  # tie resolved by ascending code

    # --- numpy shape 2: cell_knn (self-hit exclusion, arbitrary ids) ---
    ids = np.array([10, 7, 42, 3, 99], np.int64)
    B = np.array([(i * 7919) % 53 for i in range(5 * 4)], np.float64).reshape(5, 4)
    B[2] = B[4]  # tie between ids 42 and 99
    src = 7
    ci, di = int_l2_topk_block(B[2], B, ids, 3, exclude_id=src)
    d_old = ((B - B[2]) ** 2).sum(axis=1)
    keep = ids != src
    d2, i2 = d_old[keep], ids[keep]
    idx = np.lexsort((i2, d2))[:3]
    assert list(ci) == list(i2[idx]) and list(di) == list(d2[idx].astype(np.int64))
    assert 7 not in ci and list(ci[:2]) == [42, 99]

    # --- relational shape: nsw score / IVF candidate scorer ---
    sub = spark.createDataFrame(
        [(n, j, (n * 3 + j) % 5) for n in range(4) for j in range(3)],
        "node long, j int, cv long",
    )
    qsub = spark.createDataFrame(
        [(q, j, (q + j) % 4) for q in (0, 2) for j in range(3)],
        "query_id long, j int, qv long",
    )
    pairs = spark.createDataFrame(
        [(q, n) for q in (0, 2) for n in range(4) if n != q],
        "query_id long, node long",
    )
    new = {
        (r["query_id"], r["node"]): r["dist"]
        for r in score_int_l2_pairs(pairs, sub, qsub).collect()
    }
    delta = F2.col("cv") - F2.col("qv")
    old = {
        (r["query_id"], r["node"]): r["dist"]
        for r in pairs.join(sub, "node")
        .join(F2.broadcast(qsub), ["query_id", "j"])
        .groupBy("query_id", "node")
        .agg(F2.sum(delta * delta).alias("dist"))
        .collect()
    }
    assert new == old and len(new) == 6


def test_dp_stable_histogram_suppresses_small_groups(spark):
    """r13 ADVICE (medium): partition selection for unknown key domains.
    dp_group_counts_stable must (1) use the documented threshold tau =
    1 + ceil(ln(1/delta)/eps), (2) release exactly the groups whose NOISY
    count clears tau — in particular suppressing a singleton group whose
    key existence would otherwise disclose one individual — and (3) leave
    the released counts bit-equal to the unsuppressed release (the filter
    is pure post-processing)."""
    import math

    from pyspark.sql import functions as F2

    from wafer_defect_data_pipeline_spark.operators.privacy import (
        dp_group_counts,
        dp_group_counts_stable,
        dp_partition_threshold,
    )

    tau = dp_partition_threshold(eps=1.0, delta=1e-6)
    assert tau == 1 + math.ceil(math.log(1e6) / 1.0) == 15

    # big: 3 groups x 40 rows; tiny: 2 singleton groups
    rows = [(f"big{i % 3}",) for i in range(120)] + [("solo_a",), ("solo_b",)]
    df = spark.createDataFrame(rows, "g string")
    full = {r["g"]: r["dp_count"] for r in dp_group_counts(df, "g").collect()}
    rel = {
        r["g"]: r["dp_count"]
        for r in dp_group_counts_stable(df, "g", eps=1.0, delta=1e-6).collect()
    }
    assert rel == {g: c for g, c in full.items() if c >= tau}
    assert not any(g.startswith("solo") for g in rel), rel
    assert {"big0", "big1", "big2"} <= set(rel)


def test_privacy_ledger_accounts_and_refuses(spark):
    """r13 verdict item 8: the PrivacyLedger composes (eps, delta) charges
    across releases over one table and REFUSES — releasing nothing and
    recording nothing — once a charge would overspend. Wired as the
    optional ledger= arg of both DP operators; accounting never changes
    released values (oracles unchanged)."""
    import pytest as _pytest

    from wafer_defect_data_pipeline_spark.operators.privacy import (
        PrivacyBudgetExceeded,
        PrivacyLedger,
        dp_group_counts,
        dp_group_counts_stable,
    )

    df = spark.createDataFrame([(f"g{i % 4}",) for i in range(80)], "g string")

    led = PrivacyLedger(eps_budget=1.5, delta_budget=1e-6)
    base = {r["g"]: r["dp_count"] for r in dp_group_counts(df, "g").collect()}
    with_led = {
        r["g"]: r["dp_count"]
        for r in dp_group_counts(
            df, "g", eps=1.0, ledger=led, table="docs"
        ).collect()
    }
    assert with_led == base  # accounting is side-state only
    dp_group_counts_stable(
        df, "g", eps=0.5, delta=1e-6, ledger=led, table="docs"
    ).collect()
    assert led.spent() == (1.5, 1e-6)
    assert led.remaining()[0] == 0.0

    # third release overspends eps -> refused BEFORE any plan is built,
    # and the refused charge is not recorded
    with _pytest.raises(PrivacyBudgetExceeded):
        dp_group_counts(df, "g", eps=0.1, ledger=led, table="docs")
    assert led.spent() == (1.5, 1e-6)
    assert [e[:2] for e in led.entries] == [
        ("docs", "group_counts:g"),
        ("docs", "stable_histogram:g"),
    ]

    # delta budget is enforced independently of eps headroom
    led2 = PrivacyLedger(eps_budget=10.0, delta_budget=1e-9)
    with _pytest.raises(PrivacyBudgetExceeded):
        dp_group_counts_stable(df, "g", eps=1.0, delta=1e-6, ledger=led2)
    assert led2.entries == []


def test_dp_registered_queries_accept_ledger(spark, sf_small):
    """r13 verdict item 8, the wiring half: BOTH registered DP queries take
    an optional ledger= kwarg, charge the correct composed amount (eps=1
    each — the long-doc-share's two internal eps=0.5 draws compose to one
    atomic charge), refuse together past budget, and release IDENTICAL
    values with or without accounting (oracles unchanged)."""
    import pytest as _pytest

    from wafer_defect_data_pipeline_spark.operators.privacy import (
        PrivacyBudgetExceeded,
        PrivacyLedger,
    )
    from wafer_defect_data_pipeline_spark.plans.registry import _ordered

    reg = _ordered()
    gc = reg["privacy_dp_group_counts"].fn
    ls = reg["privacy_dp_long_doc_share"].fn

    led = PrivacyLedger(eps_budget=2.0)
    with_led = gc(spark, sf_small, ledger=led).collect()
    assert with_led == gc(spark, sf_small).collect()
    ls(spark, sf_small, ledger=led).collect()
    assert led.spent() == (2.0, 0.0)
    assert [e[1] for e in led.entries] == ["group_counts:lang", "long_doc_share"]
    # third release over the same table refuses — cross-QUERY composition,
    # the thing the per-query eps claims never tracked before the ledger
    with _pytest.raises(PrivacyBudgetExceeded):
        gc(spark, sf_small, ledger=led)


def test_privacy_ledger_persistence_restart_drill(spark, tmp_path):
    """r14 verdict item 3: the in-memory ledger reset per process, so two
    sessions against the same table could jointly overspend. With
    ``ledger_dir`` every charge is durably published before it counts;
    the drill: process A (a REAL subprocess) spends, process B recovers
    from the directory and REFUSES when the combined spend would exceed
    the budget. Released values stay identical with and without
    accounting (the ledger is never part of the plan)."""
    import subprocess
    import sys
    from pathlib import Path as _Path

    import pytest as _pytest

    from wafer_defect_data_pipeline_spark.operators.privacy import (
        LedgerConflictError,
        PrivacyBudgetExceeded,
        PrivacyLedger,
        dp_group_counts,
    )

    d = str(tmp_path / "ledger")

    # process A: attach with budget (2.0, 1e-6), spend eps=1.5
    script = (
        "import sys; sys.path.insert(0, {repo!r})\n"
        "from wafer_defect_data_pipeline_spark.operators.privacy import PrivacyLedger\n"
        "led = PrivacyLedger(2.0, 1e-6, ledger_dir={d!r})\n"
        "led.charge('docs', 'group_counts:lang', 1.5, 0.0)\n"
        "print('spent', led.spent())\n"
    ).format(repo=str(_Path(__file__).resolve().parent.parent), d=d)
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=120
    )
    assert proc.returncode == 0, proc.stderr
    assert "spent (1.5, 0.0)" in proc.stdout

    # process B (this one): recover budget + spend from the directory alone
    led_b = PrivacyLedger.recover(d)
    assert led_b.eps_budget == 2.0 and led_b.delta_budget == 1e-6
    assert led_b.spent() == (1.5, 0.0)
    # a charge that would push the COMBINED spend past budget refuses and
    # publishes nothing — this is exactly the cross-process overspend the
    # in-memory ledger allowed
    with _pytest.raises(PrivacyBudgetExceeded):
        led_b.charge("docs", "stable_histogram:lang", 1.0, 0.0)
    assert led_b.spent() == (1.5, 0.0)
    # a within-budget charge lands and is immediately visible to ANOTHER
    # attached instance without re-recovering (charge re-reads the log)
    led_b.charge("docs", "stable_histogram:lang", 0.5, 1e-6)
    led_c = PrivacyLedger(2.0, 1e-6, ledger_dir=d)
    assert led_c.spent() == (2.0, 1e-6)
    with _pytest.raises(PrivacyBudgetExceeded):
        led_c.charge("docs", "one_more", 0.01, 0.0)

    # attaching with a DIFFERENT budget is a conflict, not a silent rebase
    with _pytest.raises(LedgerConflictError):
        PrivacyLedger(5.0, 0.0, ledger_dir=d)

    # accounting stays out of the plan: released values are identical with
    # a persistent ledger, an in-memory ledger, and no ledger at all
    df = spark.createDataFrame([(f"g{i % 3}",) for i in range(30)], "g string")
    bare = dp_group_counts(df, "g").collect()
    led_d = PrivacyLedger(9.0, 0.0, ledger_dir=str(tmp_path / "ledger2"))
    assert dp_group_counts(df, "g", ledger=led_d, table="t").collect() == bare

    # the create-exclusive publish primitive: second writer of the same
    # path loses instead of clobbering
    p = str(tmp_path / "probe.json")
    assert PrivacyLedger._publish(p, {"v": 1}, may_exist=True) is True
    assert PrivacyLedger._publish(p, {"v": 2}, may_exist=True) is False
    with _pytest.raises(FileExistsError):
        PrivacyLedger._publish(p, {"v": 3})
    import json as _json

    with open(p) as fh:
        assert _json.load(fh) == {"v": 1}


def test_privacy_ledger_charge_has_no_check_to_publish_window(tmp_path):
    """r15 self-review: charge() used to take a FRESH seq listing after its
    budget check — a concurrent charge landing in that window bumped the
    seq, the create-exclusive link never collided, and the combined spend
    overran the budget with no PrivacyBudgetExceeded (the exact overspend
    the persistent ledger exists to prevent). The fix claims the next seq
    of the SAME snapshot the budget check ran on, so the interleaving
    collides and retries through a fresh check. The drill replays the
    interleaving deterministically: B's budget check is frozen at the
    stale pre-A snapshot for exactly one evaluation."""
    import json as _json
    import os as _os

    import pytest as _pytest

    from wafer_defect_data_pipeline_spark.operators.privacy import (
        PrivacyBudgetExceeded,
        PrivacyLedger,
    )

    d = str(tmp_path / "ledger")
    led_a = PrivacyLedger(2.0, 0.0, ledger_dir=d)
    led_b = PrivacyLedger(2.0, 0.0, ledger_dir=d)

    # B snapshots the empty log (budget check would pass)...
    led_b._refresh()
    stale = [(0.0, 0.0)]
    real_spent = type(led_b).spent

    def spent_with_one_stale_read(self):
        if stale:
            return stale.pop()  # the TOCTOU window: check ran pre-A
        return real_spent(self)

    led_b.spent = spent_with_one_stale_read.__get__(led_b)
    # ...then A lands eps=1.5 at seq 0 inside B's check-to-publish window
    led_a.charge("docs", "release_a", 1.5)
    # B's charge passed its (stale) budget check already; it must now
    # COLLIDE on the snapshot seq, re-read, and refuse — not land at seq 1
    with _pytest.raises(PrivacyBudgetExceeded):
        led_b.charge("docs", "release_b", 1.5)
    seqs = sorted(
        f for f in _os.listdir(d) if f.startswith("charge=") and f.endswith(".json")
    )
    assert seqs == ["charge=0.json"], f"overspend published: {seqs}"
    with open(_os.path.join(d, "charge=0.json")) as fh:
        assert _json.load(fh)["release"] == "release_a"

    # two attached instances charging back-to-back on one dir serialize
    # via seq collisions: both land, entries exactly once each, and the
    # next over-budget charge refuses
    led_b2 = PrivacyLedger(2.0, 0.0, ledger_dir=d)
    led_b2.charge("docs", "release_c", 0.4)
    led_a.charge("docs", "release_d", 0.1)
    assert led_a.spent() == (2.0, 0.0)
    with _pytest.raises(PrivacyBudgetExceeded):
        led_b2.charge("docs", "release_e", 0.01)


def test_dp_null_group_key_still_gets_noise(spark):
    """A NULL group key must NOT be released with zero noise: concat(NULL)
    would null the hash-uniform, the inverse-CDF would count zero
    thresholds, and the NULL group's exact count would leak in BOTH
    randomness modes. The key is coalesced to the '__NULL__' sentinel
    before hashing, so the NULL group draws exactly the noise of the
    literal sentinel key (computed independently here via hashlib)."""
    import hashlib
    import math

    from pyspark.sql import functions as F2

    from wafer_defect_data_pipeline_spark.operators.privacy import (
        dp_group_counts,
        geometric_thresholds,
    )

    rows = [(i, None if i < 7 else "en") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = {r["lang"]: r["dp_count"] for r in dp_group_counts(df, "lang").collect()}
    thr = geometric_thresholds(1.0)

    def k_of(prefix):
        u = int(hashlib.md5((prefix + "__NULL__").encode()).hexdigest()[:15], 16)
        return sum(1 for t in thr if t <= u)

    expected_null = 7 + k_of("dp1:") - k_of("dp2:")
    assert out[None] == expected_null
    # and the sentinel stream is genuinely non-degenerate for this key:
    # at least one of the two geometric draws must be computable (u valid)
    assert isinstance(expected_null, int)
