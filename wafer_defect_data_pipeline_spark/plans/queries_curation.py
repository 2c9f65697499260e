r"""Curation-pipeline queries round 2: dedup clustering, repetition quality,
PII screening, benchmark contamination, hypertable rollup.

These are the operators a 100 TB training-data curation run needs *after*
pair generation and scoring: collapse near-dup pairs into clusters
(connected components), flag repetitive/PII/contaminated documents, and keep
multi-resolution event rollups. Every query here is DuckDB-oracle-checked —
including connected components, whose oracle is a recursive CTE.

Planted fixtures (appended tokens / leaked copies) are generated inside the
query AND its oracle with identical expressions, so the checks verify real
positives, not vacuous empty results.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.text import dup_token_ratio, pii_counts, token_ngrams, token_shingles
from ..operators.dedup import lsh_verified_pairs
from ..operators.graph import cluster_assignment
from ..sources import read_table
from .registry import register


# --- dedup cluster assignment (connected components over near-dup pairs) ----
def _cluster_assignment(spark, sf_dir):
    d = read_table(spark, sf_dir, "documents")
    # two planted generations per 25th doc -> chains orig—gen1—gen2, so the
    # component labeling must transitively merge, not just pair up
    gen1 = (
        d.filter(F.col("doc_id") % 25 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" tail")))
    )
    gen2 = (
        d.filter(F.col("doc_id") % 25 == 0)
        .withColumn("doc_id", F.col("doc_id") + 2_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" tail tail")))
    )
    corpus = d.unionByName(gen1).unionByName(gen2)
    # two-stage pair generation — LSH candidates, then exact-Jaccard verify on
    # candidates only. The blocked all-pairs verifier (jaccard_pairs) is
    # quadratic per block and ~17x slower on this corpus at sf0.1.
    pairs = lsh_verified_pairs(
        corpus, "doc_id", "text", n_hashes=16, n_bands=4, shingle_k=3, threshold=0.6
    )
    return (
        cluster_assignment(corpus, "doc_id", pairs, algorithm="propagation")
        .select("doc_id", "component")
        .orderBy("doc_id")
    )


_MINS16 = ",\n             ".join(
    f"list_min(list_transform(shingles, s -> substring(md5('{j}:' || s), {1 + 8 * i}, 8)))"
    for j in range(4)
    for i in range(4)
)

# Shared CTE chain: {src} -> MinHash bands -> verified pairs ->
# recursive-CTE connected components (requires WITH RECURSIVE at the query
# head). Parameterized by source CTE so the end-to-end curation oracle can
# run the identical clustering machinery on its post-exact-dedup corpus;
# _CC_CTES below binds it to the planted-chain corpus the cluster
# assignment / diversity-cap oracles share.
def _cc_chain(src: str = "corpus") -> str:
    return rf"""t AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM {src}
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct(list_transform(range(0, len(toks) - 2),
                       i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])))
                  ELSE [concat_ws(' ', toks)] END AS shingles
      FROM t
    ), sig AS (
      SELECT doc_id,
             [{_MINS16}] AS sig
      FROM sh
    ), bands AS (
      SELECT doc_id, b,
             concat_ws('|', sig[b*4+1], sig[b*4+2], sig[b*4+3], sig[b*4+4]) AS key
      FROM sig, range(4) tt(b)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
    ), pairs AS (
      SELECT id_a, id_b
      FROM cand
      JOIN sh sa ON cand.id_a = sa.doc_id
      JOIN sh sb ON cand.id_b = sb.doc_id
      WHERE round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                  / greatest(len(list_distinct(list_concat(sa.shingles, sb.shingles))), 1), 6) >= 0.6
    ), edges AS (
      SELECT id_a AS v, id_b AS w FROM pairs UNION SELECT id_b, id_a FROM pairs
    ), reach(v, r) AS (
      SELECT v, v FROM edges
      UNION
      SELECT e.w, reach.r FROM reach JOIN edges e ON e.v = reach.v
    ), comp AS (
      SELECT v AS doc_id, min(r) AS component FROM reach GROUP BY v
    )"""


_CC_CTES = (
    """
    WITH RECURSIVE corpus AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, source, text || ' tail' FROM documents WHERE doc_id % 25 = 0
      UNION ALL
      SELECT doc_id + 2000000, source, text || ' tail tail' FROM documents WHERE doc_id % 25 = 0
    ), """
    + _cc_chain("corpus")
)

register(
    "dedup_cluster_assignment",
    _cluster_assignment,
    _CC_CTES
    + """
    SELECT c.doc_id, CAST(coalesce(comp.component, c.doc_id) AS BIGINT) AS component
    FROM corpus c LEFT JOIN comp ON c.doc_id = comp.doc_id
    ORDER BY c.doc_id
    """,
)


# --- repetition quality (Gopher-style dup-token / top-bigram fractions) -----
def _repetition(spark, sf_dir):
    from ..functions.partitioning import fan_out

    d = read_table(spark, sf_dir, "documents")
    # explode + scalar + groupBy (NOT a per-element HOF over the token array:
    # interpreted lambdas re-evaluate the split subtree per element);
    # fan_out so the bigram expansion is not bound to the scan's file count
    bg = fan_out(d.select("doc_id", "text")).select("doc_id", F.explode(token_ngrams("text", 2)).alias("bg"))
    cnt = bg.groupBy("doc_id", "bg").agg(F.count(F.lit(1)).alias("c"))
    frac = cnt.groupBy("doc_id").agg(
        F.round(F.max("c") / F.sum("c"), 6).alias("top_bigram_frac")
    )
    base = d.select("doc_id", dup_token_ratio("text").alias("dup_token_ratio"))
    return base.join(frac, on="doc_id").orderBy("doc_id")


register(
    "text_repetition_scores",
    _repetition,
    r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents
    ), bg AS (
      SELECT doc_id,
             unnest(list_transform(range(0, greatest(len(toks) - 1, 1)),
                    i -> concat_ws(' ', toks[i+1], toks[i+2]))) AS bg
      FROM t
    ), cnt AS (
      SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg
    ), frac AS (
      SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_bigram_frac
      FROM cnt GROUP BY doc_id
    ), base AS (
      SELECT doc_id,
             round(CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
                   / greatest(len(toks), 1), 6) AS dup_token_ratio
      FROM t
    )
    SELECT base.doc_id, dup_token_ratio, top_bigram_frac
    FROM base JOIN frac ON base.doc_id = frac.doc_id
    ORDER BY base.doc_id
    """,
)


# --- PII screening (planted emails / IPs) -----------------------------------
def _pii_scan(spark, sf_dir):
    d = read_table(spark, sf_dir, "documents")
    planted = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 20 == 0,
            F.concat(F.col("text"), F.lit(" contact alice@example.com now")),
        )
        .when(F.col("doc_id") % 30 == 0, F.concat(F.col("text"), F.lit(" node at 10.0.0.1 up")))
        .otherwise(F.col("text")),
    )
    n_emails, n_ips = pii_counts("text")
    return (
        planted.select("doc_id", n_emails.alias("n_emails"), n_ips.alias("n_ips"))
        .filter(F.col("n_emails") + F.col("n_ips") > 0)
        .orderBy("doc_id")
    )


register(
    "text_pii_scan",
    _pii_scan,
    r"""
    WITH planted AS (
      SELECT doc_id,
             CASE WHEN doc_id % 20 = 0 THEN text || ' contact alice@example.com now'
                  WHEN doc_id % 30 = 0 THEN text || ' node at 10.0.0.1 up'
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT) AS n_ips
    FROM planted
    WHERE len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        + len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) > 0
    ORDER BY doc_id
    """,
)


# --- benchmark contamination (8-gram overlap vs a held-out set) -------------
def _contamination(spark, sf_dir):
    d = read_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0).select(F.col("doc_id").alias("bench_id"), "text")
    leaks = bench.select(
        (F.col("bench_id") + 2_000_000).alias("doc_id"),
        F.concat(F.lit("leaked copy follows "), F.col("text")).alias("text"),
    )
    corpus = d.filter(F.col("doc_id") % 97 != 0).select("doc_id", "text").unionByName(leaks)
    # benchmark shingle set is tiny -> broadcast; the corpus never shuffles,
    # each exploded corpus shingle probes the broadcast hash map-side
    bsh = bench.select("bench_id", F.explode(token_shingles("text", 8)).alias("sh"))
    csh = corpus.select("doc_id", F.explode(token_shingles("text", 8)).alias("sh"))
    return (
        csh.join(F.broadcast(bsh), on="sh")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("sh").alias("n_shared_shingles"),
            F.min("bench_id").alias("bench_id"),
        )
        .orderBy("doc_id")
    )


_SH8 = (
    "CASE WHEN len(toks) >= 8 THEN list_distinct(list_transform(range(0, len(toks) - 7), "
    "i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3], toks[i+4], toks[i+5], toks[i+6], toks[i+7], toks[i+8]))) "
    "ELSE [concat_ws(' ', toks)] END"
)

register(
    "text_benchmark_contamination",
    _contamination,
    rf"""
    WITH bench AS (
      SELECT doc_id AS bench_id, text FROM documents WHERE doc_id % 97 = 0
    ), corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
      UNION ALL
      SELECT bench_id + 2000000, 'leaked copy follows ' || text FROM bench
    ), bt AS (
      SELECT bench_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM bench
    ), bsh AS (
      SELECT bench_id, unnest({_SH8}) AS sh FROM bt
    ), ct AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM corpus
    ), csh AS (
      SELECT doc_id, unnest({_SH8}) AS sh FROM ct
    )
    SELECT doc_id, count(DISTINCT csh.sh) AS n_shared_shingles, min(bench_id) AS bench_id
    FROM csh JOIN bsh ON csh.sh = bsh.sh
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)


# --- hypertable rollup (multi-resolution continuous aggregate) --------------
def _hypertable_rollup(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    # decimal accumulation: double `value` carries 2-decimal payloads, so the
    # cast is exact per row and the sum is partition-order-invariant
    ev.select(
        "event_type",
        F.date_trunc("DAY", F.col("ts")).alias("day"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    ).createOrReplaceTempView("events_rollup_src")
    return spark.sql(
        """
        SELECT event_type, day,
               count(*) AS n_events,
               round(CAST(sum(v) AS DOUBLE), 4) AS sum_value
        FROM events_rollup_src
        GROUP BY GROUPING SETS ((event_type, day), (event_type), ())
        ORDER BY event_type, day
        """
    )


register(
    "events_hypertable_rollup",
    _hypertable_rollup,
    """
    WITH src AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(value AS DECIMAL(18,2)) AS v
      FROM events
    )
    SELECT event_type, day, count(*) AS n_events,
           round(CAST(sum(v) AS DOUBLE), 4) AS sum_value
    FROM src
    GROUP BY GROUPING SETS ((event_type, day), (event_type), ())
    ORDER BY event_type, day
    """,
)


# --- CDC-style MERGE / upsert (full-outer coalesce form) --------------------
def _merge_upsert(spark, sf_dir):
    from pyspark.sql import Window as W  # noqa: F401  (parallel import shape with ntile below)

    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("decimal(18,2)").alias("price")
    )
    # deterministic change batch derived from the target itself: every 7th
    # key gets a 10% reprice (update), every 1000th key arrives as a new row
    # (insert). MERGE INTO without a table format = full-outer join + coalesce;
    # at 100 TB both sides shuffle once on the merge key (or zero times if the
    # target is bucketed by it — sources/bucketed.py).
    upd = o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.round(F.col("price") * F.lit("1.1").cast("decimal(2,1)"), 2).alias("price"),
    )
    ins = o.filter(F.col("o_orderkey") % 1000 == 0).select(
        (F.col("o_orderkey") + 100_000_000).alias("o_orderkey"), "price"
    )
    source = upd.unionByName(ins)
    t, s = o.alias("t"), source.alias("s")
    return (
        t.join(s, F.col("t.o_orderkey") == F.col("s.o_orderkey"), "full_outer")
        .select(
            F.coalesce(F.col("s.o_orderkey"), F.col("t.o_orderkey")).alias("o_orderkey"),
            F.coalesce(F.col("s.price"), F.col("t.price")).cast("double").alias("o_totalprice"),
            F.when(F.col("s.o_orderkey").isNotNull() & F.col("t.o_orderkey").isNotNull(), "update")
            .when(F.col("s.o_orderkey").isNotNull(), "insert")
            .otherwise("keep")
            .alias("op"),
        )
        .orderBy("o_orderkey")
    )


register(
    "merge_upsert",
    _merge_upsert,
    """
    WITH target AS (
      SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders
    ), source AS (
      SELECT o_orderkey, round(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(2,1)), 2) AS price
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT o_orderkey + 100000000, CAST(o_totalprice AS DECIMAL(18,2)) FROM orders WHERE o_orderkey % 1000 = 0
    )
    SELECT coalesce(s.o_orderkey, t.o_orderkey) AS o_orderkey,
           CAST(coalesce(s.price, t.price) AS DOUBLE) AS o_totalprice,
           CASE WHEN s.o_orderkey IS NOT NULL AND t.o_orderkey IS NOT NULL THEN 'update'
                WHEN s.o_orderkey IS NOT NULL THEN 'insert'
                ELSE 'keep' END AS op
    FROM target t FULL OUTER JOIN source s ON t.o_orderkey = s.o_orderkey
    ORDER BY o_orderkey
    """,
)


# --- int8 embedding quantization + recall@k vs exact ------------------------
def _quantization_recall(spark, sf_dir):
    from ..operators.similarity import brute_force_topk

    e = read_table(spark, sf_dir, "embeddings")
    # per-vector symmetric int8 scale; cosine is invariant to per-vector
    # scaling, so recall loss comes only from rounding. The scale subtree is
    # O(d) per row and d=64, so even HOF-interpreted re-evaluation is
    # per-row-constant work — no shuffle, no corpus blowup.
    scale = F.lit(127.0) / F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    quant = e.select(
        "vec_id",
        F.transform("embedding", lambda x: F.round(x.cast("double") * scale, 0)).alias(
            "embedding"
        ),
    )
    exact_k = brute_force_topk(e, e.filter(F.col("vec_id") % 50 == 0), k=5).select(
        "query_id", "corpus_id"
    )
    quant_k = (
        brute_force_topk(quant, quant.filter(F.col("vec_id") % 50 == 0), k=5)
        .select("query_id", "corpus_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact_k.join(quant_k, on=["query_id", "corpus_id"], how="left")
        .groupBy("query_id")
        .agg(F.round(F.sum(F.coalesce("hit", F.lit(0))) / F.lit(5.0), 6).alias("recall"))
        .orderBy("query_id")
    )


register(
    "embedding_quantization_recall",
    _quantization_recall,
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    s AS (SELECT vec_id, v, 127.0 / list_max(list_transform(v, x -> abs(x))) AS scale FROM e),
    qv AS (SELECT vec_id, list_transform(v, x -> round(x * scale)) AS v FROM s),
    exact_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
             round(list_sum(list_transform(list_zip(q.v, c.v), p -> p[1] * p[2]))
                   / (sqrt(list_sum(list_transform(q.v, x -> x * x)))
                      * sqrt(list_sum(list_transform(c.v, x -> x * x)))), 6) AS cos_sim
      FROM e c CROSS JOIN e q WHERE q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id
    ), exact_k AS (
      SELECT query_id, corpus_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, corpus_id) AS rank
        FROM exact_scored) t WHERE rank <= 5
    ), quant_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
             round(list_sum(list_transform(list_zip(q.v, c.v), p -> p[1] * p[2]))
                   / (sqrt(list_sum(list_transform(q.v, x -> x * x)))
                      * sqrt(list_sum(list_transform(c.v, x -> x * x)))), 6) AS cos_sim
      FROM qv c CROSS JOIN qv q WHERE q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id
    ), quant_k AS (
      SELECT query_id, corpus_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, corpus_id) AS rank
        FROM quant_scored) t WHERE rank <= 5
    )
    SELECT exact_k.query_id,
           round(CAST(count(quant_k.corpus_id) AS DOUBLE) / 5, 6) AS recall
    FROM exact_k LEFT JOIN quant_k
      ON exact_k.query_id = quant_k.query_id AND exact_k.corpus_id = quant_k.corpus_id
    GROUP BY exact_k.query_id
    ORDER BY exact_k.query_id
    """,
)


# --- quantile binning (grouped ntile feature bucketization) -----------------
def _ntile_quartiles(spark, sf_dir):
    from pyspark.sql import Window as W

    li = read_table(spark, sf_dir, "lineitem")
    # ntile partitions by group, so the sort is per-group (bounded key
    # cardinality), never a single global ORDER BY — the scalable binning
    # shape. Tie-proof: the order key ends in the unique (orderkey, linenumber).
    w = W.partitionBy("l_returnflag").orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
    return (
        li.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("l_returnflag", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
        )
        .orderBy("l_returnflag", "quartile")
    )


register(
    "window_ntile_quartiles",
    _ntile_quartiles,
    """
    SELECT l_returnflag, quartile, count(*) AS n_rows,
           min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
    FROM (
      SELECT l_returnflag, l_extendedprice,
             ntile(4) OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS quartile
      FROM lineitem
    ) t
    GROUP BY l_returnflag, quartile
    ORDER BY l_returnflag, quartile
    """,
)


# --- temperature-weighted mixture sampling to a token budget ----------------
def _mixture_weights(spark, sf_dir):
    from ..operators.sampling import apply_mixture_sample, mixture_sampling_rates

    d = read_table(spark, sf_dir, "documents")
    rates = mixture_sampling_rates(d, "source", "n_chars", token_budget=50_000, alpha=0.5)
    sampled = apply_mixture_sample(d, rates, "source", "doc_id")
    kept = sampled.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("n_chars").alias("n_tokens_kept"),
    )
    return (
        rates.join(kept, on="source", how="left")
        .select(
            "source",
            "n_tokens",
            "weight",
            "rate",
            F.coalesce("n_docs_kept", F.lit(0)).alias("n_docs_kept"),
            F.coalesce("n_tokens_kept", F.lit(0)).alias("n_tokens_kept"),
        )
        .orderBy("source")
    )


register(
    "sample_mixture_weights",
    _mixture_weights,
    """
    WITH per AS (
      SELECT source, CAST(sum(n_chars) AS BIGINT) AS n_tokens FROM documents GROUP BY source
    ), z AS (
      SELECT sum(pow(n_tokens, 0.5)) AS z FROM per
    ), rates AS (
      SELECT source, n_tokens,
             round(pow(n_tokens, 0.5) / z, 6) AS weight,
             round(least(1.0, 50000 * pow(n_tokens, 0.5) / z / n_tokens), 6) AS rate
      FROM per, z
    ), kept AS (
      SELECT d.source, count(*) AS n_docs_kept, CAST(sum(d.n_chars) AS BIGINT) AS n_tokens_kept
      FROM documents d JOIN rates r ON d.source = r.source
      WHERE CAST(concat('0x', substring(md5(concat('mix:', CAST(d.doc_id AS VARCHAR))), 1, 8)) AS BIGINT)
            / 4294967296.0 < r.rate
      GROUP BY d.source
    )
    SELECT r.source, r.n_tokens, r.weight, r.rate,
           COALESCE(k.n_docs_kept, 0) AS n_docs_kept,
           CAST(COALESCE(k.n_tokens_kept, 0) AS BIGINT) AS n_tokens_kept
    FROM rates r LEFT JOIN kept k ON r.source = k.source
    ORDER BY r.source
    """,
)


# --- concat-and-chunk sequence packing --------------------------------------
def _pack_sequences(spark, sf_dir):
    from ..operators.packing import pack_concat_chunks

    d = read_table(spark, sf_dir, "documents")
    packed = pack_concat_chunks(d, "source", "doc_id", "n_chars", seq_len=2048)
    return (
        packed.groupBy("source", "pack_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("n_tokens"))
        .orderBy("source", "pack_id")
    )


register(
    "pack_sequences",
    _pack_sequences,
    """
    WITH c AS (
      SELECT source, n_chars,
             CAST(COALESCE(sum(n_chars) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
      FROM documents
    )
    SELECT source, cum_before // 2048 AS pack_id,
           count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_tokens
    FROM c
    GROUP BY source, pack_id
    ORDER BY source, pack_id
    """,
)


# --- deterministic fixed-size per-stratum sample ----------------------------
def _topk_per_group_sample(spark, sf_dir):
    from ..operators.sampling import topk_per_group

    d = read_table(spark, sf_dir, "documents")
    return (
        topk_per_group(d, "lang", "doc_id", k=20)
        .select("lang", "doc_id", "source")
        .orderBy("lang", "doc_id")
    )


register(
    "sample_topk_per_group",
    _topk_per_group_sample,
    """
    SELECT lang, doc_id, source FROM (
      SELECT lang, doc_id, source,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(concat('topk:', CAST(doc_id AS VARCHAR))), doc_id) AS rn
      FROM documents
    ) t
    WHERE rn <= 20
    ORDER BY lang, doc_id
    """,
)


# --- z-order layout: per-bucket bounding boxes ------------------------------
def _zorder_stats(spark, sf_dir):
    """Top-4-bits z-buckets bound BOTH key columns — the data-skipping
    property a single-column sort cannot give (operators/layout.py)."""
    from ..operators.layout import with_zvalue

    li = read_table(spark, sf_dir, "lineitem")
    z = with_zvalue(li, "l_orderkey", "l_partkey", bits=8)
    bucket = F.expr("zvalue div 4096")  # top 4 of 16 interleaved bits
    return (
        z.groupBy(bucket.alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_orderkey").alias("min_okey"),
            F.max("l_orderkey").alias("max_okey"),
            F.min("l_partkey").alias("min_pkey"),
            F.max("l_partkey").alias("max_pkey"),
        )
        .orderBy("z_bucket")
    )


def _zorder_oracle() -> str:
    from ..operators.layout import quantize_expr, zvalue_expr

    qa = quantize_expr("l_orderkey", "la", "ha", 8, "//")
    qb = quantize_expr("l_partkey", "lb", "hb", 8, "//")
    zv = zvalue_expr(qa, qb, 8, "//")
    return f"""
    WITH b AS (
      SELECT min(l_orderkey) AS la, max(l_orderkey) AS ha,
             min(l_partkey) AS lb, max(l_partkey) AS hb
      FROM lineitem
    ), z AS (
      SELECT l_orderkey, l_partkey, ({zv}) AS zvalue FROM lineitem, b
    )
    SELECT zvalue // 4096 AS z_bucket, count(*) AS n_rows,
           min(l_orderkey) AS min_okey, max(l_orderkey) AS max_okey,
           min(l_partkey) AS min_pkey, max(l_partkey) AS max_pkey
    FROM z GROUP BY z_bucket ORDER BY z_bucket
    """


register("layout_zorder_stats", _zorder_stats, _zorder_oracle())


# --- boilerplate screening: cross-document common n-grams -------------------
_SH3 = (
    "CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(range(0, len(toks) - 2), "
    "i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))) "
    "ELSE [concat_ws(' ', toks)] END"
)


def _boilerplate(spark, sf_dir):
    """Trigram shingles shared by >=4 docs are boilerplate; score each doc by
    the fraction of its shingles that are common. Planted disclaimer on every
    10th doc guarantees real positives. Shuffle shape: explode -> one
    groupBy(sh) for doc-frequency, one equi-join back — never all-pairs."""
    d = read_table(spark, sf_dir, "documents")
    planted = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(F.col("text"), F.lit(" all rights reserved contact support for details")),
        ).otherwise(F.col("text")),
    )
    sh = planted.select("doc_id", F.explode(token_shingles("text", 3)).alias("sh"))
    # shingles are distinct per doc, so count(*) per shingle == doc frequency
    common = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df")).filter(F.col("df") >= 4).select("sh")
    per = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    boil = sh.join(common, on="sh").groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_boiler"))
    return (
        per.join(boil, on="doc_id", how="left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_boiler", F.lit(0)).alias("n_boiler"),
            F.round(F.coalesce("n_boiler", F.lit(0)) / F.col("n_shingles"), 6).alias("boiler_frac"),
        )
        .orderBy("doc_id")
    )


register(
    "text_boilerplate_ngrams",
    _boilerplate,
    rf"""
    WITH planted AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 0
                  THEN text || ' all rights reserved contact support for details'
                  ELSE text END AS text
      FROM documents
    ), t AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM planted
    ), sh AS (
      SELECT doc_id, unnest({_SH3}) AS sh FROM t
    ), common AS (
      SELECT sh FROM sh GROUP BY sh HAVING count(*) >= 4
    ), per AS (
      SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id
    ), boil AS (
      SELECT doc_id, count(*) AS n_boiler FROM sh JOIN common USING (sh) GROUP BY doc_id
    )
    SELECT per.doc_id, n_shingles,
           COALESCE(n_boiler, 0) AS n_boiler,
           round(CAST(COALESCE(n_boiler, 0) AS DOUBLE) / n_shingles, 6) AS boiler_frac
    FROM per LEFT JOIN boil ON per.doc_id = boil.doc_id
    ORDER BY per.doc_id
    """,
)


# --- per-source quality-percentile gate -------------------------------------
def _quality_rank_filter(spark, sf_dir):
    """Keep each source's top half by quality score: rank-normalizing within
    source before thresholding is how curation pipelines avoid one source's
    score distribution starving another. Window per source — parallel across
    sources, deterministic via the doc_id tiebreak."""
    from pyspark.sql import Window as W

    from ..functions.text import quality_score

    d = read_table(spark, sf_dir, "documents")
    scored = d.select("doc_id", "source", quality_score("text").alias("quality"))
    w = W.partitionBy("source").orderBy(F.desc("quality"), F.asc("doc_id"))
    kept = scored.withColumn("pr", F.percent_rank().over(w)).filter(F.col("pr") <= 0.5)
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.round(F.min("quality"), 6).alias("min_quality_kept"),
            F.round(F.avg("quality"), 6).alias("avg_quality_kept"),
        )
        .orderBy("source")
    )


_QUALITY_EXPR = r"""
      SELECT doc_id, source,
             round(0.4 * least(length(text) / 400.0, 1.0)
                 + 0.4 * least((len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                 x -> list_contains(['the','a','of','and','to','in','is','it'], x)))
                                / greatest(len(regexp_split_to_array(trim(lower(text)), '\s+')), 1)) * 4.0, 1.0)
                 + 0.2 * (1.0 - least(((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9_\s]', '', 'g')))
                                / greatest(length(text), 1)) * 5.0, 1.0)), 6) AS quality
      FROM documents
"""

register(
    "text_quality_rank_filter",
    _quality_rank_filter,
    rf"""
    WITH scored AS (
      {_QUALITY_EXPR}
    ), ranked AS (
      SELECT source, quality,
             percent_rank() OVER (PARTITION BY source ORDER BY quality DESC, doc_id ASC) AS pr
      FROM scored
    )
    SELECT source, count(*) AS n_kept,
           round(min(quality), 6) AS min_quality_kept,
           round(avg(quality), 6) AS avg_quality_kept
    FROM ranked WHERE pr <= 0.5
    GROUP BY source ORDER BY source
    """,
)


# --- unigram-LM log-probability (perplexity proxy) --------------------------
def _unigram_logprob(spark, sf_dir, top_k: int = 16):
    """Corpus-unigram log-likelihood per doc — the cheap LM-quality proxy.

    The vocabulary is CAPPED at the ``top_k`` most frequent terms (ties
    broken by term asc — deterministic in every engine); all remaining mass
    is pooled into one OOV pseudo-token whose probability is the summed OOV
    count over the corpus total. That keeps the broadcast side bounded at
    exactly ``top_k`` rows no matter the corpus size — at 100 TB a raw
    term-frequency table has billions of rows and can't broadcast, while
    top-K selection is ``orderBy().limit()`` = distributed TakeOrdered (a
    per-partition heap + driver merge of K rows, no global sort shuffle).
    Two map-side-combinable aggs (term freq, per-doc mean), one K-row
    broadcast join, two 1-row broadcast literals. ``top_k=16`` < the 31-term
    testdata vocabulary, so the OOV path is exercised by the oracle check.
    """
    from ..functions.text import tokens

    d = read_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    tf = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    vocab = tf.orderBy(F.desc("c"), F.asc("tok")).limit(top_k)
    # corpus total and pooled OOV count: 1-row aggregates, broadcast as the
    # literal side of a crossJoin (vocab_sum re-aggregates the K-row vocab)
    tot = tf.agg(F.sum("c").alias("total"))
    vocab_sum = vocab.agg(F.sum("c").alias("in_vocab"))
    scored = (
        tok.join(F.broadcast(vocab), on="tok", how="left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(vocab_sum))
        .withColumn("eff_c", F.coalesce(F.col("c"), F.col("total") - F.col("in_vocab")))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(F.log(F.col("eff_c") / F.col("total"))), 4).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


register(
    "text_unigram_logprob",
    _unigram_logprob,
    r"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
      FROM documents
    ), tf AS (
      SELECT tok, count(*) AS c FROM tok GROUP BY tok
    ), vocab AS (
      SELECT tok, c FROM tf ORDER BY c DESC, tok ASC LIMIT 16
    ), stats AS (
      SELECT CAST((SELECT sum(c) FROM tf) AS BIGINT) AS total,
             CAST((SELECT sum(c) FROM vocab) AS BIGINT) AS in_vocab
    )
    SELECT doc_id, count(*) AS n_tokens,
           round(avg(ln(CAST(coalesce(v.c, s.total - s.in_vocab) AS DOUBLE) / s.total)), 4) AS avg_logprob
    FROM tok LEFT JOIN vocab v USING (tok) CROSS JOIN stats s
    GROUP BY doc_id ORDER BY doc_id
    """,
)


# --- PII REDACTION (not just detection): regexp_replace with typed tokens ---
# The curation pass that actually ships: emails/IPs replaced with stable
# placeholder tokens so downstream training never sees the raw identifier;
# redaction counts per doc audit the pass. Pure JVM column algebra
# (regexp_replace + regexp_extract_all), identical regex semantics in
# DuckDB -> full value-hash oracle including the REDACTED TEXT itself.
def _pii_redact(spark, sf_dir):
    from ..functions.text import PII_EMAIL_RE, PII_IPV4_RE, pii_counts

    d = read_table(spark, sf_dir, "documents")
    planted = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 20 == 0,
            F.concat(F.col("text"), F.lit(" contact alice@example.com now")),
        )
        .when(F.col("doc_id") % 30 == 0, F.concat(F.col("text"), F.lit(" node at 10.0.0.1 up")))
        .otherwise(F.col("text")),
    )
    n_emails, n_ips = pii_counts("text")
    return (
        planted.select(
            "doc_id",
            n_emails.alias("n_emails"),
            n_ips.alias("n_ips"),
            F.regexp_replace(
                F.regexp_replace("text", PII_EMAIL_RE, "<EMAIL>"), PII_IPV4_RE, "<IP>"
            ).alias("redacted"),
        )
        .filter(F.col("n_emails") + F.col("n_ips") > 0)
        .orderBy("doc_id")
    )


register(
    "text_pii_redact",
    _pii_redact,
    r"""
    WITH planted AS (
      SELECT doc_id,
             CASE WHEN doc_id % 20 = 0 THEN text || ' contact alice@example.com now'
                  WHEN doc_id % 30 = 0 THEN text || ' node at 10.0.0.1 up'
                  ELSE text END AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT) AS n_ips,
           regexp_replace(
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS redacted
    FROM planted
    WHERE len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        + len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) > 0
    ORDER BY doc_id
    """,
)


# --- per-domain corpus stats (planted URLs -> domain extraction) ------------
# Standard web-curation op: extract the registrable host from URLs and
# aggregate corpus mass per domain (the input to domain allow/deny lists
# and per-domain quality priors). regexp_extract + group-agg, broadcast-free.
def _url_domain_stats(spark, sf_dir):
    d = read_table(spark, sf_dir, "documents")
    planted = d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" source https://site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.org/p/"),
            F.col("doc_id").cast("string"),
        ),
    )
    domain = F.regexp_extract("text", r"https?://([A-Za-z0-9.-]+)", 1)
    return (
        planted.select(domain.alias("domain"), F.length("text").alias("n_chars"))
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("domain")
    )


register(
    "text_url_domain_stats",
    _url_domain_stats,
    r"""
    WITH planted AS (
      SELECT doc_id,
             text || ' source https://site' || CAST(doc_id % 7 AS VARCHAR)
                  || '.example.org/p/' || CAST(doc_id AS VARCHAR) AS text
      FROM documents
    )
    SELECT regexp_extract(text, 'https?://([A-Za-z0-9.-]+)', 1) AS domain,
           count(*) AS n_docs,
           CAST(sum(len(text)) AS BIGINT) AS total_chars
    FROM planted GROUP BY domain ORDER BY domain
    """,
)


# --- intra-document paragraph dedup (within-doc repetition removal) ---------
# The within-doc twin of corpus dedup: split on blank lines, drop repeated
# paragraphs keeping first occurrence, report per-doc paragraph counts.
# posexplode + min(pos) group-agg — all JVM; DuckDB mirrors it with
# string_split_regex + unnest + row_number.
def _paragraph_dedup(spark, sf_dir):
    d = read_table(spark, sf_dir, "documents")
    paras = (
        d.select(
            "doc_id",
            F.posexplode(F.split("text", r"\.\s+")).alias("pos", "para"),
        )
        .select("doc_id", "pos", F.trim("para").alias("para"))
        .filter(F.length("para") > 0)
    )
    kept = paras.groupBy("doc_id", "para").agg(F.min("pos").alias("first_pos"))
    return (
        kept.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_unique_paras"))
        .join(
            paras.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_paras")),
            on="doc_id",
        )
        .select(
            "doc_id",
            "n_paras",
            "n_unique_paras",
            (F.col("n_paras") - F.col("n_unique_paras")).alias("n_dup_paras"),
        )
        .orderBy("doc_id")
    )


register(
    "text_paragraph_dedup",
    _paragraph_dedup,
    r"""
    WITH paras AS (
      SELECT doc_id, trim(p.para) AS para
      FROM documents,
           LATERAL (SELECT unnest(string_split_regex(text, '\.\s+')) AS para) p
      WHERE len(trim(p.para)) > 0
    )
    SELECT doc_id,
           count(*) AS n_paras,
           count(DISTINCT para) AS n_unique_paras,
           count(*) - count(DISTINCT para) AS n_dup_paras
    FROM paras GROUP BY doc_id ORDER BY doc_id
    """,
)


# --- declarative data-quality audit (Deequ-style, single-pass rules) --------
def _dq_audit(spark, sf_dir):
    """Predicate rules compile to ONE conditional-sum pass; uniqueness and
    referential integrity each add one key-only shuffle (see
    operators/quality.py). Range/RI violations are planted
    deterministically (every l_orderkey%997 row re-appears orphaned with a
    negative quantity; every l_orderkey%991 row as an exact duplicate);
    the uniqueness rule additionally surfaces a REAL testdata property —
    the generator assigns l_linenumber randomly, so (l_orderkey,
    l_linenumber) has ~14k genuine collisions the audit reports."""
    from ..operators.quality import dq_audit

    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    bad_range = (
        li.filter(F.col("l_orderkey") % 997 == 0)
        .withColumn("l_orderkey", F.col("l_orderkey") + 50_000_000)
        .withColumn("l_quantity", F.lit(-5.0))
    )
    bad_dup = li.filter(F.col("l_orderkey") % 991 == 0)
    corpus = li.unionByName(bad_range).unionByName(bad_dup)
    rules = {
        "non_null(l_orderkey)": F.col("l_orderkey").isNotNull(),
        "range(l_quantity)": F.col("l_quantity").between(1, 50),
        "range(l_discount)": F.col("l_discount").between(0.0, 0.1),
        "domain(l_returnflag)": F.col("l_returnflag").isin("A", "N", "R"),
    }
    return dq_audit(
        corpus,
        rules,
        unique_keys=[["l_orderkey", "l_linenumber"]],
        references=[(orders, "l_orderkey", "o_orderkey")],
    ).orderBy("rule")


register(
    "dq_audit_lineitem",
    _dq_audit,
    """
    WITH corpus AS (
      SELECT * FROM lineitem
      UNION ALL
      SELECT l_orderkey + 50000000, l_partkey, l_suppkey, l_linenumber, -5.0,
             l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate
      FROM lineitem WHERE l_orderkey % 997 = 0
      UNION ALL
      SELECT * FROM lineitem WHERE l_orderkey % 991 = 0
    )
    SELECT 'domain(l_returnflag)' AS rule,
           CAST(sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 0 ELSE 1 END) AS BIGINT) AS violations,
           CAST(count(*) AS BIGINT) AS checked FROM corpus
    UNION ALL
    SELECT 'non_null(l_orderkey)',
           CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(*) AS BIGINT) FROM corpus
    UNION ALL
    SELECT 'range(l_discount)',
           CAST(sum(CASE WHEN l_discount BETWEEN 0.0 AND 0.1 THEN 0 ELSE 1 END) AS BIGINT),
           CAST(count(*) AS BIGINT) FROM corpus
    UNION ALL
    SELECT 'range(l_quantity)',
           CAST(sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END) AS BIGINT),
           CAST(count(*) AS BIGINT) FROM corpus
    UNION ALL
    SELECT 'ri(l_orderkey->o_orderkey)',
           CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM corpus LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
      ON corpus.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'unique(l_orderkey,l_linenumber)',
           CAST(sum(c - 1) AS BIGINT), CAST(sum(c) AS BIGINT)
    FROM (SELECT count(*) AS c FROM corpus GROUP BY l_orderkey, l_linenumber)
    ORDER BY rule
    """,
)


# --- quality-aware dedup keep (cluster -> argmax-quality representative) ----
def _quality_keep(spark, sf_dir):
    """Near-dup clusters collapsed to their best member — the curation
    policy step after clustering: rather than keep-min-id (see
    semantic_dedup_keep), keep the highest-quality doc per component
    (quality = n_chars here; any scalar score slots in), ties by min
    doc_id. One window over the (doc, component, score) frame — the
    cluster payload never re-shuffles."""
    from pyspark.sql import Window as W

    d = read_table(spark, sf_dir, "documents")
    gen1 = (
        d.filter(F.col("doc_id") % 25 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" tail")))
    )
    gen2 = (
        d.filter(F.col("doc_id") % 25 == 0)
        .withColumn("doc_id", F.col("doc_id") + 2_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" tail tail")))
    )
    corpus = d.unionByName(gen1).unionByName(gen2)
    pairs = lsh_verified_pairs(
        corpus, "doc_id", "text", n_hashes=16, n_bands=4, shingle_k=3, threshold=0.6
    )
    comp = cluster_assignment(corpus, "doc_id", pairs).select("doc_id", "component")
    scored = comp.join(corpus.select("doc_id", "n_chars"), "doc_id")
    w = W.partitionBy("component").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    ranked = scored.withColumn("rn", F.row_number().over(w)).withColumn(
        "sz", F.count(F.lit(1)).over(W.partitionBy("component"))
    )
    return (
        ranked.filter((F.col("rn") == 1) & (F.col("sz") >= 2))
        .select(
            F.col("component").cast("bigint").alias("component"),
            F.col("doc_id").alias("keep_doc_id"),
            F.col("sz").cast("bigint").alias("n_members"),
        )
        .orderBy("component")
    )


register(
    "dedup_quality_keep",
    _quality_keep,
    rf"""
    WITH RECURSIVE corpus AS (
      SELECT doc_id, n_chars, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, n_chars, text || ' tail' FROM documents WHERE doc_id % 25 = 0
      UNION ALL
      SELECT doc_id + 2000000, n_chars, text || ' tail tail' FROM documents WHERE doc_id % 25 = 0
    ), t AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM corpus
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct(list_transform(range(0, len(toks) - 2),
                       i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])))
                  ELSE [concat_ws(' ', toks)] END AS shingles
      FROM t
    ), sig AS (
      SELECT doc_id,
             [{_MINS16}] AS sig
      FROM sh
    ), bands AS (
      SELECT doc_id, b,
             concat_ws('|', sig[b*4+1], sig[b*4+2], sig[b*4+3], sig[b*4+4]) AS key
      FROM sig, range(4) tt(b)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
    ), pairs AS (
      SELECT id_a, id_b
      FROM cand
      JOIN sh sa ON cand.id_a = sa.doc_id
      JOIN sh sb ON cand.id_b = sb.doc_id
      WHERE round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                  / greatest(len(list_distinct(list_concat(sa.shingles, sb.shingles))), 1), 6) >= 0.6
    ), edges AS (
      SELECT id_a AS v, id_b AS w FROM pairs UNION SELECT id_b, id_a FROM pairs
    ), reach(v, r) AS (
      SELECT v, v FROM edges
      UNION
      SELECT e.w, reach.r FROM reach JOIN edges e ON e.v = reach.v
    ), comp AS (
      SELECT v AS doc_id, min(r) AS component FROM reach GROUP BY v
    ), assigned AS (
      SELECT c.doc_id, CAST(coalesce(comp.component, c.doc_id) AS BIGINT) AS component,
             c.n_chars
      FROM corpus c LEFT JOIN comp ON c.doc_id = comp.doc_id
    ), ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY component
                                ORDER BY n_chars DESC, doc_id ASC) AS rn,
             count(*) OVER (PARTITION BY component) AS sz
      FROM assigned
    )
    SELECT component, doc_id AS keep_doc_id, CAST(sz AS BIGINT) AS n_members
    FROM ranked WHERE rn = 1 AND sz >= 2
    ORDER BY component
    """,
)


# --- star-rewrite clustering twin (same oracle as dedup_cluster_assignment:
# both algorithms must produce the identical component map) ------------------
def _cluster_assignment_star(spark, sf_dir):
    d = read_table(spark, sf_dir, "documents")
    gen1 = (
        d.filter(F.col("doc_id") % 25 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" tail")))
    )
    gen2 = (
        d.filter(F.col("doc_id") % 25 == 0)
        .withColumn("doc_id", F.col("doc_id") + 2_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" tail tail")))
    )
    corpus = d.unionByName(gen1).unionByName(gen2)
    pairs = lsh_verified_pairs(
        corpus, "doc_id", "text", n_hashes=16, n_bands=4, shingle_k=3, threshold=0.6
    )
    return (
        cluster_assignment(corpus, "doc_id", pairs, algorithm="star")
        .select("doc_id", "component")
        .orderBy("doc_id")
    )


def _cc_oracle() -> str:
    # the star rewrite must produce the IDENTICAL component map, so the
    # oracle is literally dedup_cluster_assignment's registered SQL
    from .registry import _REGISTRY

    return _REGISTRY["dedup_cluster_assignment"].oracle


register("dedup_cluster_assignment_star", _cluster_assignment_star, _cc_oracle())


# --- auto-selected clustering twin (operators/graph.connected_components_auto):
# one edge count picks the one-task numpy union-find (this corpus, far under
# the 1M-edge gate), else a budgeted-propagation probe with star fallback;
# the relational branches are pytest-covered with the gate at 0 and on a
# synthetic chain. dedup_cluster_assignment pins propagation and its _star
# twin pins star, so both relational loops stay oracle-covered. Same
# oracle: all three must produce the identical component map. --------------
def _cluster_assignment_auto(spark, sf_dir):
    d = read_table(spark, sf_dir, "documents")
    gen1 = (
        d.filter(F.col("doc_id") % 25 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" tail")))
    )
    gen2 = (
        d.filter(F.col("doc_id") % 25 == 0)
        .withColumn("doc_id", F.col("doc_id") + 2_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" tail tail")))
    )
    corpus = d.unionByName(gen1).unionByName(gen2)
    pairs = lsh_verified_pairs(
        corpus, "doc_id", "text", n_hashes=16, n_bands=4, shingle_k=3, threshold=0.6
    )
    return (
        cluster_assignment(corpus, "doc_id", pairs, algorithm="auto")
        .select("doc_id", "component")
        .orderBy("doc_id")
    )


register("dedup_cluster_assignment_auto", _cluster_assignment_auto, _cc_oracle())


# --- diversity cap: at most M docs kept per near-dup cluster -----------------
def _diversity_cap(spark, sf_dir):
    """Cluster-aware downsampling — the curation step AFTER cluster
    assignment: within each near-dup cluster keep at most M=2 documents,
    ranked by a quality proxy (here text length desc, doc_id asc — the
    score column is pluggable; the mechanism is the point). A pure window
    over the component map, so the extra cost over clustering is one
    shuffle on component — at 100 TB the cluster sizes are the skew to
    watch, and rank-then-filter windows truncate hot clusters at M rows
    read-out. Emits the full audit row (rank + kept flag), not just the
    survivors, so downstream filters replay the decision."""
    from pyspark.sql import Window as W

    d = read_table(spark, sf_dir, "documents")
    gen1 = (
        d.filter(F.col("doc_id") % 25 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" tail")))
    )
    gen2 = (
        d.filter(F.col("doc_id") % 25 == 0)
        .withColumn("doc_id", F.col("doc_id") + 2_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" tail tail")))
    )
    corpus = d.unionByName(gen1).unionByName(gen2)
    pairs = lsh_verified_pairs(
        corpus, "doc_id", "text", n_hashes=16, n_bands=4, shingle_k=3, threshold=0.6
    )
    labeled = cluster_assignment(corpus, "doc_id", pairs)
    w = W.partitionBy("component").orderBy(
        F.desc(F.length("text")), F.asc("doc_id")
    )
    return (
        labeled.withColumn("rank_in_cluster", F.row_number().over(w))
        .select(
            "doc_id",
            "component",
            "rank_in_cluster",
            (F.col("rank_in_cluster") <= 2).alias("kept"),
        )
        .orderBy("doc_id")
    )


register(
    "curation_diversity_cap",
    _diversity_cap,
    _CC_CTES
    + """
    , labeled AS (
      SELECT c.doc_id,
             CAST(coalesce(comp.component, c.doc_id) AS BIGINT) AS component,
             length(c.text) AS qlen
      FROM corpus c LEFT JOIN comp ON c.doc_id = comp.doc_id
    )
    SELECT doc_id, component, CAST(rnk AS INT) AS rank_in_cluster,
           rnk <= 2 AS kept
    FROM (SELECT doc_id, component, row_number() OVER (
            PARTITION BY component ORDER BY qlen DESC, doc_id ASC) AS rnk
          FROM labeled) t
    ORDER BY doc_id
    """,
)


# --- training-export shards: deterministic shard write + manifest ------------
def _export_shards(spark, sf_dir):
    """The pipeline's LAST step: write the curated corpus as deterministic
    training shards and emit the manifest a trainer consumes. Shard id is
    the repo's md5-uniform of doc_id mod 16 (engine-portable — NOT
    xxhash64, which the oracle can't replay), the write is a real
    partitionBy parquet write to a scratch dir, and the manifest is
    computed from the FILES READ BACK — so the query exercises write +
    read-back + aggregate, like csv_roundtrip does for the CSV sink.
    Manifest: per-shard doc count, total chars, and an order-insensitive
    content checksum (sum of the 60-bit id-hash as DECIMAL(38,0) — BIGINT
    sums overflow under ANSI). At 100 TB the shard column is the write
    partitioning, so each shard is one contiguous file set and the
    manifest agg is map-side combinable."""
    d = read_table(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
    )
    # pid-suffixed sf-keyed scratch (scratch.py): a uuid-fresh dir per call
    # accumulates a full parquet corpus copy per sweep until /tmp fills,
    # and a fixed sf-keyed path races across concurrent runs (r13 ADVICE)
    from ..scratch import scratch_dir

    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    out = scratch_dir(f"export_shards_{sf_tag}")
    d.select(
        "doc_id", "n_chars", F.pmod(u, F.lit(16)).cast("int").alias("shard"),
        u.alias("idhash"),
    ).repartition("shard").write.mode("overwrite").partitionBy("shard").parquet(out)
    back = spark.read.parquet(out)
    return (
        back.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.col("idhash").cast("decimal(38,0)")).cast("string").alias("checksum"),
        )
        .orderBy("shard")
    )


register(
    "curation_export_shards",
    _export_shards,
    """
    WITH s AS (
      SELECT doc_id, n_chars,
             CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS idhash
      FROM documents
    )
    SELECT CAST(idhash % 16 AS INT) AS shard,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(CAST(sum(CAST(idhash AS HUGEINT)) AS DECIMAL(38,0)) AS VARCHAR) AS checksum
    FROM s GROUP BY 1 ORDER BY 1
    """,
)


# --- k-anonymity audit (privacy governance) ---------------------------------
def _k_anonymity(spark, sf_dir):
    """Quasi-identifier group-size audit: rows whose (lang, source,
    n_chars-bucket) combination is shared by fewer than k=5 documents are
    re-identifiable at that granularity (Sweeney's k-anonymity — public
    literature). One groupBy on the quasi-identifier tuple; the report is
    per-bucket counts of violating groups/rows plus the worst group size —
    the number a release-review gate actually checks."""
    d = read_table(spark, sf_dir, "documents")
    q = d.select(
        "lang", "source", (F.col("n_chars") / 100).cast("int").alias("chars_bucket")
    )
    groups = q.groupBy("lang", "source", "chars_bucket").agg(
        F.count(F.lit(1)).alias("g")
    )
    return groups.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(F.col("g") < 5, 1).otherwise(0)).alias("n_groups_below_k"),
        F.sum(F.when(F.col("g") < 5, F.col("g")).otherwise(0)).alias("n_rows_at_risk"),
        F.min("g").alias("min_group_size"),
    )


register(
    "privacy_k_anonymity",
    _k_anonymity,
    """
    WITH g AS (
      SELECT lang, source, CAST(n_chars // 100 AS INT) AS chars_bucket,
             count(*) AS g
      FROM documents GROUP BY 1, 2, 3
    )
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN g < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_below_k,
           CAST(sum(CASE WHEN g < 5 THEN g ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
           CAST(min(g) AS BIGINT) AS min_group_size
    FROM g
    """,
)


def _l_diversity(spark, sf_dir):
    """Sensitive-attribute diversity audit, the companion gate to
    k-anonymity (Machanavajjhala et al., "l-Diversity: Privacy Beyond
    k-Anonymity", ICDE'06 — public literature): a quasi-identifier group
    that is large enough for k-anonymity still leaks if every member
    shares the same sensitive value. Here QI = (lang, n_chars-bucket)
    and the sensitive attribute is ``source``; a group with fewer than
    l=3 distinct sources fails. One groupBy with a distinct-count — the
    same single-shuffle shape as the k audit."""
    d = read_table(spark, sf_dir, "documents")
    q = d.select(
        "lang",
        (F.col("n_chars") / 100).cast("int").alias("chars_bucket"),
        "source",
    )
    groups = q.groupBy("lang", "chars_bucket").agg(
        F.count(F.lit(1)).alias("g"),
        F.countDistinct("source").alias("ldiv"),
    )
    return groups.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(F.col("ldiv") < 3, 1).otherwise(0)).alias("n_groups_below_l"),
        F.sum(F.when(F.col("ldiv") < 3, F.col("g")).otherwise(0)).alias("n_rows_at_risk"),
        F.min("ldiv").alias("min_diversity"),
    )


register(
    "privacy_l_diversity",
    _l_diversity,
    """
    WITH g AS (
      SELECT lang, CAST(n_chars // 100 AS INT) AS chars_bucket,
             count(*) AS g, count(DISTINCT source) AS ldiv
      FROM documents GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(CASE WHEN ldiv < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_below_l,
           CAST(sum(CASE WHEN ldiv < 3 THEN g ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
           CAST(min(ldiv) AS BIGINT) AS min_diversity
    FROM g
    """,
)


# --- differentially private group counts ------------------------------------
# Mechanism lives in operators/privacy.py (discrete Laplace via the
# two-sided-geometric inverse-CDF, STOC'09 — see that module's docstring).
# The registered query runs the DETERMINISTIC noise mode — the uniform is a
# hash of the group key alone, so the SQL oracle replays it bit-exactly.
# Production deployments use noise="seeded" (secret nonce) — same mechanism,
# same plan shape, different randomness source (r12 verdict item 6); the
# seeded mode's geometric shape is pinned by
# tests/test_extensions.py::test_dp_seeded_noise_shape.
from ..operators.privacy import geometric_thresholds as _dp_thresholds

_DP_T = _dp_thresholds(eps=1.0)


def _dp_group_counts(spark, sf_dir, ledger=None):
    """eps=1 DP release of per-language document counts: one groupBy
    (sensitivity 1 under add/remove-one-document adjacency), then discrete
    Laplace noise added as a pure projection — the noise join is free, the
    aggregate is the only shuffle. ``ledger`` (optional PrivacyLedger) is
    charged (eps=1, 0) for the release before the plan is built;
    accounting never changes the released values, so the oracle is
    identical with or without it.

    KEY-DOMAIN PRECONDITION (r13 ADVICE): ``lang`` is a PUBLIC fixed
    enumeration (the language-ID label set ships with the classifier,
    independent of any document), so releasing which languages appear
    discloses nothing an adversary couldn't enumerate — the eps-DP claim
    is for the counts. For data-derived key domains the
    ``privacy_dp_stable_histogram`` query below is the sound form."""
    from ..operators.privacy import dp_group_counts

    d = read_table(spark, sf_dir, "documents")
    return dp_group_counts(
        d, "lang", eps=1.0, noise="deterministic", ledger=ledger,
        table="documents",
    ).orderBy("lang")


_DP_T_SQL = "[" + ", ".join(str(t) for t in _DP_T) + "]"

register(
    "privacy_dp_group_counts",
    _dp_group_counts,
    f"""
    WITH c AS (
      SELECT lang, count(*) AS n FROM documents GROUP BY lang
    ), u AS (
      SELECT lang, n,
             CAST(concat('0x', substring(md5('dp1:' || coalesce(lang, '__NULL__')), 1, 15)) AS BIGINT) AS u1,
             CAST(concat('0x', substring(md5('dp2:' || coalesce(lang, '__NULL__')), 1, 15)) AS BIGINT) AS u2
      FROM c
    )
    SELECT lang,
           CAST(n + len(list_filter({_DP_T_SQL}, t -> t <= u1))
                  - len(list_filter({_DP_T_SQL}, t -> t <= u2)) AS BIGINT) AS dp_count
    FROM u ORDER BY lang
    """,
)


# --- DP partition selection: unknown key domains ------------------------------
def _dp_stable_histogram(spark, sf_dir):
    """(eps=1, delta=1e-6)-DP histogram over a DATA-DERIVED key domain —
    document-length buckets (n_chars // 50), whose observed key set is
    itself sensitive (r13 ADVICE: under add/remove-one-row adjacency a
    singleton group's key existence exactly discloses one individual).
    operators/privacy.dp_group_counts_stable: noise every observed
    bucket's count (same eps=1 discrete Laplace), release only buckets
    whose NOISY count clears the stability threshold tau = 1 +
    ceil(ln(1/delta)/eps) = 15 — on the driver corpus the two tail
    buckets are suppressed, the ten dense ones released. The threshold is
    a data-independent literal, so the suppression replays as a plain
    predicate in the oracle."""
    from ..operators.privacy import dp_group_counts_stable, dp_partition_threshold

    d = read_table(spark, sf_dir, "documents").select(
        (F.col("n_chars") / 50).cast("int").alias("chars_bucket")
    )
    tau = dp_partition_threshold(eps=1.0, delta=1e-6)
    return (
        dp_group_counts_stable(
            d, "chars_bucket", eps=1.0, delta=1e-6, noise="deterministic"
        )
        .withColumn("threshold_used", F.lit(tau))
        .orderBy("chars_bucket")
    )


from ..operators.privacy import dp_partition_threshold as _dp_tau

_TAU = _dp_tau(eps=1.0, delta=1e-6)

register(
    "privacy_dp_stable_histogram",
    _dp_stable_histogram,
    f"""
    WITH c AS (
      SELECT CAST(n_chars // 50 AS INT) AS chars_bucket, count(*) AS n
      FROM documents GROUP BY 1
    ), u AS (
      SELECT chars_bucket, n,
             CAST(concat('0x', substring(md5('dp1:' || coalesce(CAST(chars_bucket AS VARCHAR), '__NULL__')), 1, 15)) AS BIGINT) AS u1,
             CAST(concat('0x', substring(md5('dp2:' || coalesce(CAST(chars_bucket AS VARCHAR), '__NULL__')), 1, 15)) AS BIGINT) AS u2
      FROM c
    ), noised AS (
      SELECT chars_bucket,
             CAST(n + len(list_filter({_DP_T_SQL}, t -> t <= u1))
                    - len(list_filter({_DP_T_SQL}, t -> t <= u2)) AS BIGINT) AS dp_count
      FROM u
    )
    SELECT chars_bucket, dp_count, CAST({_TAU} AS INT) AS threshold_used
    FROM noised WHERE dp_count >= {_TAU} ORDER BY chars_bucket
    """,
)


# --- DP composition: two releases under an eps budget ------------------------
# The count release above is one statistic; a real governance report composes
# several under one privacy budget. This releases per-language (total docs,
# long docs, long-doc share): two sensitivity-1 counts, each noised with
# eps=0.5 discrete Laplace (sequential composition -> total eps=1), then the
# share computed from the NOISED values — post-processing, which consumes no
# budget (Dwork & Roth, "The Algorithmic Foundations of Differential
# Privacy", 2014 — public literature). Independent noise streams come from
# distinct hash prefixes; eps=0.5 has a fatter geometric tail, so its
# inverse-CDF table extends to magnitude 88 (tail mass e^-44 ~ 8e-20).
_DP_T_HALF = _dp_thresholds(eps=0.5, max_mag=88)


def _dp_long_doc_share(spark, sf_dir, ledger=None):
    """eps=1 DP release of per-language document totals, long-doc counts
    (n_chars > 500), and their ratio: one groupBy (the only shuffle), two
    eps=0.5 discrete-Laplace draws per group as pure projections, ratio
    post-processed from the noised pair (clamped at 0, denominator floored
    at 1). Same PUBLIC-key-domain precondition as privacy_dp_group_counts
    (lang is a fixed public enumeration); unknown domains must go through
    privacy_dp_stable_histogram's partition selection. ``ledger``
    (optional PrivacyLedger) is charged ONE composed (eps=1, 0) entry up
    front — the two eps=0.5 component draws compose sequentially INSIDE
    the query and the share is free post-processing; a single charge
    keeps the refusal atomic (two separate charges could spend the first
    and refuse the second, leaking budget with nothing released)."""
    from ..operators.privacy import _uniform60

    if ledger is not None:
        ledger.charge("documents", "long_doc_share", 1.0, 0.0)

    d = read_table(spark, sf_dir, "documents")
    g = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("n_chars") > 500, 1).otherwise(0)).alias("n_long"),
    )
    thr = F.array(*[F.lit(t) for t in _DP_T_HALF])
    u = g.select(
        "lang", "n", "n_long",
        _uniform60("dpA1:", F.col("lang")).alias("ua1"),
        _uniform60("dpA2:", F.col("lang")).alias("ua2"),
        _uniform60("dpB1:", F.col("lang")).alias("ub1"),
        _uniform60("dpB2:", F.col("lang")).alias("ub2"),
    )

    def k(c):
        return F.size(F.filter(thr, lambda t: t <= F.col(c))).cast("long")

    dp_docs = F.greatest(F.col("n") + k("ua1") - k("ua2"), F.lit(0).cast("long"))
    dp_long = F.greatest(
        F.col("n_long") + k("ub1") - k("ub2"), F.lit(0).cast("long")
    )
    return u.select(
        "lang",
        dp_docs.alias("dp_docs"),
        dp_long.alias("dp_long_docs"),
        (
            F.round(
                dp_long.cast("double")
                / F.greatest(dp_docs, F.lit(1).cast("long")).cast("double"),
                4,
            )
            + F.lit(0.0)
        ).alias("dp_long_share"),
    ).orderBy("lang")


_DP_T_HALF_SQL = "[" + ", ".join(str(t) for t in _DP_T_HALF) + "]"

register(
    "privacy_dp_long_doc_share",
    _dp_long_doc_share,
    f"""
    WITH c AS (
      SELECT lang, count(*) AS n,
             CAST(sum(CASE WHEN n_chars > 500 THEN 1 ELSE 0 END) AS BIGINT) AS n_long
      FROM documents GROUP BY lang
    ), u AS (
      SELECT lang, n, n_long,
             CAST(concat('0x', substring(md5('dpA1:' || coalesce(lang, '__NULL__')), 1, 15)) AS BIGINT) AS ua1,
             CAST(concat('0x', substring(md5('dpA2:' || coalesce(lang, '__NULL__')), 1, 15)) AS BIGINT) AS ua2,
             CAST(concat('0x', substring(md5('dpB1:' || coalesce(lang, '__NULL__')), 1, 15)) AS BIGINT) AS ub1,
             CAST(concat('0x', substring(md5('dpB2:' || coalesce(lang, '__NULL__')), 1, 15)) AS BIGINT) AS ub2
      FROM c
    ), kk AS (
      SELECT lang,
             greatest(CAST(n + len(list_filter({_DP_T_HALF_SQL}, t -> t <= ua1))
                             - len(list_filter({_DP_T_HALF_SQL}, t -> t <= ua2)) AS BIGINT),
                      0) AS dp_docs,
             greatest(CAST(n_long + len(list_filter({_DP_T_HALF_SQL}, t -> t <= ub1))
                                  - len(list_filter({_DP_T_HALF_SQL}, t -> t <= ub2)) AS BIGINT),
                      0) AS dp_long_docs
      FROM u
    )
    SELECT lang, dp_docs, dp_long_docs,
           round(CAST(dp_long_docs AS DOUBLE) / greatest(dp_docs, 1), 4) + 0.0
             AS dp_long_share
    FROM kk ORDER BY lang
    """,
)


# --- end-to-end curation pipeline (r13 verdict item 2) -----------------------
def _pinned_count(df):
    """``(pin, rows)``: ``df`` pinned by an eager ``localCheckpoint`` that
    counts its rows through an observation on the way — one job past the
    frame's shuffle stages, where a lazy pin plus ``count()`` runs two. The
    shuffle stages run inside either pin call: under AQE, building the
    checkpoint finalizes the adaptive plan, so ``eager=False`` defers only
    the stage after the last exchange. Only the eager pin fills the
    observation: a lazy one leaves it at 0 with no error."""
    from pyspark.sql import Observation

    obs = Observation()
    pin = df.observe(obs, F.count(F.lit(1)).alias("rows")).localCheckpoint(eager=True)
    return pin, obs.get["rows"]


def _curation_end_to_end(spark, sf_dir):
    """The single query a real LLM-data user runs first: documents ->
    exact dedup -> near-dup cluster + diversity cap -> quality filter ->
    decontaminate-strip vs a held-out benchmark -> token-budget pack ->
    export shards with a read-back manifest. Every stage is an existing,
    individually-green operator; THIS query proves they COMPOSE — column
    contracts, id stability, one pass per stage (each stage's output is
    pinned by an eager localCheckpoint that counts it for the audit on the
    way, see :func:`_pinned_count`), no recompute across stage boundaries.

    Planted fixtures give every stage real casualties at any sf: +1M
    exact copies (stage 1 drops all of them), +2M/+3M ' tail' variants of
    every 25th doc (3-member near-dup chains; the cap keeps 2), +4M
    leaked copies of every 97th 'benchmark' doc (the strip stage cuts
    their spans to a stub that the min-length gate then drops). The
    manifest rows carry the per-stage survivor counts as audit columns,
    so the whole funnel is value-hashed, not just the final shard stats.

    Scale shape: each stage is the already-graded operator (single
    shuffle each; LSH+verify+CC for pairs; gram broadcast for the strip);
    the composition adds NO new shuffle — stages hand off by column
    contract, and the shard column is the final write partitioning.

    The seven stages run under :func:`session.phase` tags (``input`` ..
    ``shard_export``); the manifest aggregate over the read-back shards
    runs in the caller's action, outside them."""
    from pyspark.sql import Window as W

    from ..functions.text import quality_score
    from ..operators.dedup import exact_dedup, strip_contaminated_spans
    from ..operators.packing import pack_concat_chunks
    from ..scratch import scratch_dir
    from ..session import phase

    with phase(spark, "input"):
        d = read_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
        bench = d.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")

        exact_copies = d.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
        gen1 = (
            d.filter(F.col("doc_id") % 25 == 0)
            .withColumn("doc_id", F.col("doc_id") + F.lit(2_000_000))
            .withColumn("text", F.concat(F.col("text"), F.lit(" tail")))
        )
        gen2 = (
            d.filter(F.col("doc_id") % 25 == 0)
            .withColumn("doc_id", F.col("doc_id") + F.lit(3_000_000))
            .withColumn("text", F.concat(F.col("text"), F.lit(" tail tail")))
        )
        leaked = (
            d.filter(F.col("doc_id") % 97 == 0)
            .withColumn(
                "text",
                F.concat(
                    F.expr("substring(text, 16)"),
                    F.lit(" q"),
                    F.col("doc_id").cast("string"),
                ),
            )
            .withColumn("doc_id", F.col("doc_id") + F.lit(4_000_000))
        )
        corpus, n_input = _pinned_count(
            d.unionByName(exact_copies).unionByName(gen1).unionByName(gen2).unionByName(leaked)
        )

    # stage 1: exact dedup (min-id per identical text); doc_id unique across
    # all five planted generations (+1M/+2M/+3M/+4M shifts) -> min_by form
    with phase(spark, "exact_dedup"):
        deduped, n_exact = _pinned_count(exact_dedup(corpus, ["text"], "doc_id", unique_order=True))

    # stage 2: near-dup cluster (LSH candidates -> exact-Jaccard verify ->
    # connected components) + diversity cap M=2 per cluster
    with phase(spark, "cluster_cap"):
        pairs = lsh_verified_pairs(
            deduped, "doc_id", "text", n_hashes=16, n_bands=4, shingle_k=3,
            threshold=0.6,
        )
        labeled = cluster_assignment(deduped, "doc_id", pairs)
        w = W.partitionBy("component").orderBy(F.desc(F.length("text")), F.asc("doc_id"))
        capped, n_capped = _pinned_count(
            labeled.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= 2)
            .select("doc_id", "source", "text")
        )

    # stage 3: quality gate (C4/Gopher-style heuristic score)
    with phase(spark, "quality_gate"):
        qkept, n_quality = _pinned_count(capped.filter(quality_score("text") >= 0.55))

    # stage 4: decontaminate — drop the held-out bench docs themselves,
    # surgically strip bench-overlapping spans from everything else, and
    # gate out docs stripped below 20 chars
    with phase(spark, "decontaminate"):
        train = qkept.filter(
            ~((F.col("doc_id") < 1_000_000) & (F.col("doc_id") % 97 == 0))
        )
        stripped = strip_contaminated_spans(train, bench, "doc_id", "text", k=20, min_span=40)
        curated, n_curated = _pinned_count(
            stripped.join(train.select("doc_id", "source"), "doc_id")
            .select("doc_id", "source", F.length("clean_text").alias("clean_len"))
            .filter(F.col("clean_len") >= 20)
        )

    # stage 5: token-budget packing on the CLEANED lengths
    with phase(spark, "token_pack"):
        packed = pack_concat_chunks(curated, "source", "doc_id", "clean_len", seq_len=2048)
        u = (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
            .cast("long")
        )
        staged = packed.select(
            "doc_id", "source", "clean_len", "pack_id",
            F.pmod(u, F.lit(16)).cast("int").alias("shard"),
            u.alias("idhash"),
        ).localCheckpoint(eager=False)  # runs the packing shuffles here (AQE)
        n_packs = staged.select("source", "pack_id").distinct().count()

    # stage 6: shard export + manifest from the files READ BACK
    sf_tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    out = scratch_dir(f"curation_e2e_{sf_tag}")
    with phase(spark, "shard_export"):
        staged.repartition("shard").write.mode("overwrite").partitionBy(
            "shard"
        ).parquet(out)
        back = spark.read.parquet(out)
    return (
        back.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("clean_len").alias("total_clean_chars"),
            F.sum(F.col("idhash").cast("decimal(38,0)")).cast("string").alias("checksum"),
        )
        .withColumn("n_input", F.lit(n_input).cast("long"))
        .withColumn("n_after_exact", F.lit(n_exact).cast("long"))
        .withColumn("n_after_cap", F.lit(n_capped).cast("long"))
        .withColumn("n_after_quality", F.lit(n_quality).cast("long"))
        .withColumn("n_curated", F.lit(n_curated).cast("long"))
        .withColumn("n_packs", F.lit(n_packs).cast("long"))
        .orderBy("shard")
    )


def _curation_e2e_sql() -> str:
    """The composed oracle: each stage's PROVEN oracle fragment chained as
    CTEs — exact-dedup window, the shared :func:`_cc_chain` clustering
    block rebound onto the post-dedup corpus, the quality expression from
    text_quality_scores, the span-strip chain from
    text_decontaminate_strip, pack_sequences' prefix-sum window, and
    export_shards' manifest aggregate. Multi-referenced stage outputs are
    MATERIALIZED (the r5 lesson: plain chained CTEs with multiple refs
    inline exponentially in DuckDB)."""
    quality = (
        "round(0.4 * least(length(text) / 400.0, 1.0)"
        " + 0.4 * least(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),"
        " x -> list_contains(['the','a','of','and','to','in','is','it'], x)))"
        " / greatest(len(regexp_split_to_array(trim(lower(text)), '\\s+')), 1) * 4.0, 1.0)"
        " + 0.2 * (1.0 - least((length(text) - length(regexp_replace(text, '[^a-zA-Z0-9_\\s]', '', 'g')))"
        " / greatest(length(text), 1) * 5.0, 1.0)), 6)"
    )
    return (
        """
    WITH RECURSIVE corpus AS MATERIALIZED (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, source, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000, source, text || ' tail' FROM documents WHERE doc_id % 25 = 0
      UNION ALL
      SELECT doc_id + 3000000, source, text || ' tail tail' FROM documents WHERE doc_id % 25 = 0
      UNION ALL
      SELECT doc_id + 4000000, source, substring(text, 16) || ' q' || CAST(doc_id AS VARCHAR)
      FROM documents WHERE doc_id % 97 = 0
    ), deduped AS MATERIALIZED (
      SELECT doc_id, source, text FROM (
        SELECT *, min(doc_id) OVER (PARTITION BY text) AS keep_id FROM corpus) z
      WHERE doc_id = keep_id
    ), """
        + _cc_chain("deduped")
        + f""", capped AS MATERIALIZED (
      SELECT doc_id, source, text FROM (
        SELECT c.doc_id, c.source, c.text,
               row_number() OVER (PARTITION BY coalesce(comp.component, c.doc_id)
                                  ORDER BY length(c.text) DESC, c.doc_id ASC) AS rk
        FROM deduped c LEFT JOIN comp ON c.doc_id = comp.doc_id) z
      WHERE rk <= 2
    ), qkept AS MATERIALIZED (
      SELECT doc_id, source, text FROM (
        SELECT doc_id, source, text, {quality} AS qual FROM capped) z
      WHERE qual >= 0.55
    ), bench AS MATERIALIZED (
      SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0
    ), bgrams AS MATERIALIZED (
      SELECT DISTINCT substring(b.text, CAST(t.p AS INTEGER) + 1, 20) AS gh
      FROM bench b, unnest(range(0, CAST(length(b.text) AS BIGINT) - 19)) AS t(p)
      WHERE length(b.text) >= 20
    ), train AS MATERIALIZED (
      SELECT doc_id, source, text FROM qkept
      WHERE NOT (doc_id < 1000000 AND doc_id % 97 = 0)
    ), pos AS (
      SELECT c.doc_id, CAST(t.p AS BIGINT) AS pos,
             substring(c.text, CAST(t.p AS INTEGER) + 1, 20) AS gh
      FROM train c, unnest(range(0, CAST(length(c.text) AS BIGINT) - 19)) AS t(p)
      WHERE length(c.text) >= 20
    ), cov AS (
      SELECT doc_id, pos FROM pos WHERE gh IN (SELECT gh FROM bgrams)
    ), brks AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER w IS NULL
                    OR pos > lag(pos) OVER w + 20 THEN 1 ELSE 0 END AS brk
      FROM cov WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), isl AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM brks
    ), spans AS MATERIALIZED (
      SELECT doc_id, min(pos) AS span_start, max(pos) + 20 AS span_end
      FROM isl GROUP BY doc_id, island
      HAVING max(pos) + 20 - min(pos) >= 40
    ), tails AS (
      SELECT doc_id, max(span_end) AS seg_start FROM spans GROUP BY doc_id
    ), segs AS (
      SELECT doc_id,
             lag(span_end, 1, 0) OVER (PARTITION BY doc_id ORDER BY span_start) AS seg_start,
             span_start AS seg_end
      FROM spans
      UNION ALL
      SELECT t.doc_id, t.seg_start, length(c.text)
      FROM tails t JOIN train c ON c.doc_id = t.doc_id
    ), rebuilt AS (
      SELECT s.doc_id,
             string_agg(substring(c.text, CAST(s.seg_start AS INTEGER) + 1,
                                  CAST(s.seg_end - s.seg_start AS INTEGER)),
                        '' ORDER BY s.seg_start) AS clean
      FROM segs s JOIN train c ON c.doc_id = s.doc_id
      WHERE s.seg_end > s.seg_start
      GROUP BY s.doc_id
    ), stats AS (
      SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY doc_id
    ), cleaned AS MATERIALIZED (
      SELECT c.doc_id, c.source,
             CASE WHEN st.doc_id IS NULL THEN c.text
                  ELSE coalesce(r.clean, '') END AS ctext
      FROM train c
      LEFT JOIN stats st ON st.doc_id = c.doc_id
      LEFT JOIN rebuilt r ON r.doc_id = c.doc_id
    ), curated AS MATERIALIZED (
      SELECT doc_id, source, CAST(length(ctext) AS BIGINT) AS clean_len
      FROM cleaned WHERE length(ctext) >= 20
    ), packed AS MATERIALIZED (
      SELECT doc_id, source, clean_len,
             CAST(COALESCE(sum(clean_len) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) // 2048 AS pack_id,
             CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS idhash
      FROM curated
    ), audit AS (
      SELECT CAST((SELECT count(*) FROM corpus) AS BIGINT) AS n_input,
             CAST((SELECT count(*) FROM deduped) AS BIGINT) AS n_after_exact,
             CAST((SELECT count(*) FROM capped) AS BIGINT) AS n_after_cap,
             CAST((SELECT count(*) FROM qkept) AS BIGINT) AS n_after_quality,
             CAST((SELECT count(*) FROM curated) AS BIGINT) AS n_curated,
             CAST((SELECT count(DISTINCT source || '#' || CAST(pack_id AS VARCHAR))
                   FROM packed) AS BIGINT) AS n_packs
    )
    SELECT CAST(p.idhash % 16 AS INT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(p.clean_len) AS BIGINT) AS total_clean_chars,
           CAST(CAST(sum(CAST(p.idhash AS HUGEINT)) AS DECIMAL(38,0)) AS VARCHAR) AS checksum,
           a.n_input, a.n_after_exact, a.n_after_cap, a.n_after_quality,
           a.n_curated, a.n_packs
    FROM packed p CROSS JOIN audit a
    GROUP BY 1, a.n_input, a.n_after_exact, a.n_after_cap,
             a.n_after_quality, a.n_curated, a.n_packs
    ORDER BY shard
    """
    )


register("curation_end_to_end", _curation_end_to_end, _curation_e2e_sql())


# --- greedy no-split sequence packing ---------------------------------------
def _pack_sequences_nosplit(spark, sf_dir):
    """Per-source greedy first-fit packing without document splitting
    (operators/packing.pack_greedy_nosplit): pack summaries mirror
    pack_sequences for direct comparison of the two layouts. The
    sequential per-shard scan is deterministic in doc_id order, so a
    per-shard recursive CTE replays it exactly."""
    from ..operators.packing import pack_greedy_nosplit

    d = read_table(spark, sf_dir, "documents")
    packed = pack_greedy_nosplit(d, "source", "doc_id", "n_chars", seq_len=2048)
    return (
        packed.groupBy("source", "pack_id")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("n_tokens"))
        .orderBy("source", "pack_id")
    )


register(
    "pack_sequences_nosplit",
    _pack_sequences_nosplit,
    """
    WITH RECURSIVE docs AS (
      SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ), walk(source, rn, pack_id, fill, n_chars) AS (
      SELECT source, rn, CAST(0 AS BIGINT), n_chars, n_chars FROM docs WHERE rn = 1
      UNION ALL
      SELECT d.source, d.rn,
             CASE WHEN w.fill + d.n_chars <= 2048 THEN w.pack_id ELSE w.pack_id + 1 END,
             CASE WHEN w.fill + d.n_chars <= 2048 THEN w.fill + d.n_chars ELSE d.n_chars END,
             d.n_chars
      FROM walk w JOIN docs d ON d.source = w.source AND d.rn = w.rn + 1
    )
    SELECT source, pack_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_tokens
    FROM walk
    GROUP BY source, pack_id
    ORDER BY source, pack_id
    """,
)


# --- length-bucketed batching: padding-waste accounting ---------------------
def _length_bucketing_waste(spark, sf_dir):
    """Quantifies what length-sorted batching saves: fixed batches of 32
    docs are padded to the batch max, so padded = sum over batches of
    max_len * batch_size; waste is padded minus real tokens. Compares
    arrival order (doc_id) against length-sorted order — the measurement
    that justifies bucketed batching in a training data loader. Both
    strategies are one global row_number + one groupBy over the BATCH
    SUMMARY (at 100 TB the global sort would shard per source/shard
    first, same numbers per shard); all arithmetic is integer except the
    final ratio."""
    from pyspark.sql import Window as W

    d = read_table(spark, sf_dir, "documents")
    out = []
    for strategy, order in [
        ("arrival", [F.asc("doc_id")]),
        ("length_sorted", [F.asc("n_chars"), F.asc("doc_id")]),
    ]:
        w = W.orderBy(*order)
        batched = d.select(
            "n_chars", ((F.row_number().over(w) - 1) / 32).cast("int").alias("batch_id")
        )
        per_batch = batched.groupBy("batch_id").agg(
            F.count(F.lit(1)).alias("bsz"),
            F.max("n_chars").alias("mx"),
            F.sum("n_chars").alias("tot"),
        )
        out.append(
            per_batch.agg(
                F.lit(strategy).alias("strategy"),
                F.count(F.lit(1)).alias("n_batches"),
                F.sum("tot").alias("real_tokens"),
                F.sum(F.col("mx") * F.col("bsz")).alias("padded_tokens"),
                F.round(
                    (F.sum(F.col("mx") * F.col("bsz")) - F.sum("tot"))
                    / F.sum(F.col("mx") * F.col("bsz")).cast("double"),
                    6,
                ).alias("waste_pct"),
            )
        )
    return out[0].unionByName(out[1]).orderBy("strategy")


register(
    "pack_length_bucketing_waste",
    _length_bucketing_waste,
    """
    WITH arrival AS (
      SELECT n_chars,
             (row_number() OVER (ORDER BY doc_id) - 1) // 32 AS batch_id
      FROM documents
    ), srt AS (
      SELECT n_chars,
             (row_number() OVER (ORDER BY n_chars, doc_id) - 1) // 32 AS batch_id
      FROM documents
    ), pa AS (
      SELECT batch_id, count(*) AS bsz, max(n_chars) AS mx, sum(n_chars) AS tot
      FROM arrival GROUP BY 1
    ), ps AS (
      SELECT batch_id, count(*) AS bsz, max(n_chars) AS mx, sum(n_chars) AS tot
      FROM srt GROUP BY 1
    )
    SELECT 'arrival' AS strategy, CAST(count(*) AS BIGINT) AS n_batches,
           CAST(sum(tot) AS BIGINT) AS real_tokens,
           CAST(sum(mx * bsz) AS BIGINT) AS padded_tokens,
           round((sum(mx * bsz) - sum(tot)) / CAST(sum(mx * bsz) AS DOUBLE), 6) AS waste_pct
    FROM pa
    UNION ALL
    SELECT 'length_sorted', CAST(count(*) AS BIGINT),
           CAST(sum(tot) AS BIGINT), CAST(sum(mx * bsz) AS BIGINT),
           round((sum(mx * bsz) - sum(tot)) / CAST(sum(mx * bsz) AS DOUBLE), 6)
    FROM ps
    ORDER BY strategy
    """,
)


# --- dataset snapshot diff (versioned-corpus governance) ---------------------
def _snapshot_diff(spark, sf_dir):
    """Row-level diff between two corpus snapshots: added / removed /
    changed / unchanged, decided by key + content fingerprint.

    The audit every versioned dataset release runs ("what moved between
    v1 and v2"). Shape: each side reduces to (key, md5) — 40 bytes/row
    regardless of document width, the text never leaves its scan — then
    ONE full outer join on the key and a status rollup. At 100 TB both
    fingerprint projections pipeline behind their scans and the join
    shuffles only fingerprints; with both snapshots written bucketed by
    key even that shuffle disappears. The "new" snapshot is derived from
    the corpus with planted edits (every 50th doc edited, every 97th+3
    dropped, clones of every 41st added) so all four statuses have real
    rows, identically planted in the oracle.
    """
    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    new = (
        d.filter(F.col("doc_id") % 97 != 3)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 50 == 0, F.concat(F.col("text"), F.lit(" edited"))
            ).otherwise(F.col("text")),
        )
        .unionByName(
            d.filter(F.col("doc_id") % 41 == 0).select(
                (F.col("doc_id") + F.lit(9_000_000)).alias("doc_id"),
                F.concat(F.lit("brand new "), F.col("text")).alias("text"),
            )
        )
    )
    oh = d.select("doc_id", F.md5("text").alias("h_old"))
    nh = new.select("doc_id", F.md5("text").alias("h_new"))
    j = oh.join(nh, on="doc_id", how="full_outer")
    status = (
        F.when(F.col("h_old").isNull(), "added")
        .when(F.col("h_new").isNull(), "removed")
        .when(F.col("h_old") != F.col("h_new"), "changed")
        .otherwise("unchanged")
    )
    return (
        j.select(status.alias("status"), "doc_id")
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("doc_id").alias("min_key"),
            F.max("doc_id").alias("max_key"),
        )
        .orderBy("status")
    )


register(
    "curation_snapshot_diff",
    _snapshot_diff,
    """
    WITH old AS (
      SELECT doc_id, text FROM documents
    ), new AS (
      SELECT doc_id,
             CASE WHEN doc_id % 50 = 0 THEN text || ' edited' ELSE text END AS text
      FROM documents WHERE doc_id % 97 <> 3
      UNION ALL
      SELECT doc_id + 9000000, 'brand new ' || text
      FROM documents WHERE doc_id % 41 = 0
    ), oh AS (SELECT doc_id, md5(text) AS h_old FROM old),
    nh AS (SELECT doc_id, md5(text) AS h_new FROM new),
    j AS (
      SELECT coalesce(oh.doc_id, nh.doc_id) AS doc_id, h_old, h_new
      FROM oh FULL OUTER JOIN nh ON oh.doc_id = nh.doc_id
    )
    SELECT CASE WHEN h_old IS NULL THEN 'added'
                WHEN h_new IS NULL THEN 'removed'
                WHEN h_old <> h_new THEN 'changed'
                ELSE 'unchanged' END AS status,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(doc_id) AS min_key,
           max(doc_id) AS max_key
    FROM j GROUP BY 1 ORDER BY status
    """,
)


# --- deletion propagation (right-to-erasure cascade audit) -------------------
def _delete_propagation(spark, sf_dir):
    """Cascade audit for a deletion request: given a customer tombstone
    list, count the rows each downstream table loses (orders via custkey,
    lineitems via those orders) and what remains.

    Shape: the tombstone list is a narrow key projection that semi-joins
    each child table — Spark broadcasts it when small, and each count is
    map-side-combinable; the lineitem leg reuses the deleted-orders keys
    (not the customer list) so the cascade follows the actual FK path.
    No table is ever rewritten here: the audit is what a GDPR run
    executes FIRST, and its counts are the acceptance criteria for the
    anti-join rewrite that follows.
    """
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    tomb = cust.filter(F.col("c_custkey") % 100 == 7).select(
        F.col("c_custkey").alias("k")
    )
    del_orders = orders.join(
        tomb, orders["o_custkey"] == tomb["k"], "left_semi"
    ).select("o_orderkey", "o_custkey")
    c_stats = cust.agg(
        F.lit("customer").alias("table_name"),
        F.sum((F.col("c_custkey") % 100 == 7).cast("long")).alias("n_deleted"),
        F.sum((F.col("c_custkey") % 100 != 7).cast("long")).alias("n_retained"),
    )
    o_del = del_orders.count()
    o_total = orders.count()
    li_del = li.join(
        del_orders.select("o_orderkey"),
        li["l_orderkey"] == F.col("o_orderkey"),
        "left_semi",
    ).count()
    li_total = li.count()
    rest = spark.createDataFrame(
        [("orders", o_del, o_total - o_del), ("lineitem", li_del, li_total - li_del)],
        "table_name string, n_deleted long, n_retained long",
    )
    return c_stats.unionByName(rest).orderBy("table_name")


register(
    "privacy_delete_propagation",
    _delete_propagation,
    """
    WITH tomb AS (
      SELECT c_custkey AS k FROM customer WHERE c_custkey % 100 = 7
    ), del_orders AS (
      SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT k FROM tomb)
    )
    SELECT 'customer' AS table_name,
           CAST((SELECT count(*) FROM tomb) AS BIGINT) AS n_deleted,
           CAST((SELECT count(*) FROM customer WHERE c_custkey % 100 <> 7) AS BIGINT) AS n_retained
    UNION ALL
    SELECT 'lineitem',
           CAST((SELECT count(*) FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM del_orders)) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM del_orders)) AS BIGINT)
    UNION ALL
    SELECT 'orders',
           CAST((SELECT count(*) FROM del_orders) AS BIGINT),
           CAST((SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT k FROM tomb)) AS BIGINT)
    ORDER BY table_name
    """,
)


# --- token-budget corpus selection (r11): the data-mixing primitive --------
# "Take the best-quality documents per language until the token budget is
# spent" — the greedy selection every mixture-weighted pretraining corpus
# build runs per domain/language bucket. One window pass: rank docs by
# quality (desc, doc_id tiebreak) within each language, running token sum,
# keep rows whose cumulative count stays inside the budget. Scale shape:
# a single shuffle on lang (the window key); no driver-side loop, no
# collect — at 100 TB the same plan runs with lang (or domain) as the
# partition column. Budget chosen to BITE at every test scale (sf0.001's
# smallest language bucket carries ~4k tokens): a bucket whose docs all
# fit would make the query vacuous.
_TOKEN_BUDGET = 2_000


def _token_budget_select(spark, sf_dir):
    from pyspark.sql import Window

    from ..functions import text as X

    d = read_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "lang",
        X.token_count("text").cast("long").alias("n_tokens"),
        X.quality_score("text").alias("quality"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.desc("quality"), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    kept = scored.withColumn("cum_tokens", F.sum("n_tokens").over(w)).filter(
        F.col("cum_tokens") <= _TOKEN_BUDGET
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            (F.min("quality") + F.lit(0.0)).alias("min_quality"),
        )
        .orderBy("lang")
    )


register(
    "curation_token_budget_select",
    _token_budget_select,
    rf"""
    WITH t AS (
      SELECT doc_id, lang, text,
             regexp_split_to_array(trim(lower(text)), '\s+') AS toks,
             greatest(length(text), 1) AS n_chars_g,
             (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9_\s]', '', 'g'))) AS n_punct,
             CAST(CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(lower(text)), '\s+')) END AS BIGINT) AS n_tokens
      FROM documents
    ), q AS (
      SELECT doc_id, lang, n_tokens,
             round(0.4 * least(length(text) / 400.0, 1.0)
                 + 0.4 * least(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is','it'], x)))
                               / greatest(len(toks), 1) * 4.0, 1.0)
                 + 0.2 * (1.0 - least(n_punct / n_chars_g * 5.0, 1.0)), 6) AS quality
      FROM t
    ), c AS (
      SELECT lang, n_tokens, quality,
             sum(n_tokens) OVER (PARTITION BY lang ORDER BY quality DESC, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM q
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           min(quality) + 0.0 AS min_quality
    FROM c WHERE cum <= {_TOKEN_BUDGET}
    GROUP BY lang ORDER BY lang
    """,
)
