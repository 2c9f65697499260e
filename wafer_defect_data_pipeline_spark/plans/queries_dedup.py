"""Dedup queries over ``documents`` (extension surface §2.9).

The md5-derived hash "permutations" make MinHash/SimHash deterministic and
oracle-SQL-expressible — the driver hash-verifies the actual signatures and
pairs, not just row counts. The ml.feature.MinHashLSH estimator variant is
registered rows-only (its hash family is JVM-seeded, not reproducible in
SQL).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
    simhash_pairs,
    simhash_values,
)
from ..sources import read_table
from .registry import register


# --- exact dedup on a duplicated input -------------------------------------
def _exact_dedup(spark, sf_dir):
    d = read_table(spark, sf_dir, "documents")
    # duplicate every doc under a shifted id: dedup must keep the originals
    dup = d.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
    both = d.unionByName(dup)
    # doc_id is unique across both halves by construction (+1M shift), so
    # the single-shuffle min_by form is value-identical (r16, guide §2.3)
    out = exact_dedup(both, ["text"], "doc_id", unique_order=True)
    return out.select("doc_id", "lang", "source").orderBy("doc_id")


register(
    "dedup_exact",
    _exact_dedup,
    """
    WITH both_rows AS (
      SELECT doc_id, lang, source, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, lang, source, text FROM documents
    )
    SELECT doc_id, lang, source FROM (
      SELECT *, min(doc_id) OVER (PARTITION BY text) AS keep_id FROM both_rows
    ) t WHERE doc_id = keep_id
    ORDER BY doc_id
    """,
)


# --- MinHash signatures (deterministic, value-checked) ---------------------
def _minhash_sigs(spark, sf_dir):
    d = read_table(spark, sf_dir, "documents")
    sig = minhash_signatures(d, "doc_id", "text", n_hashes=8)
    return sig.select("doc_id", F.concat_ws(",", "sig").alias("signature")).orderBy("doc_id")


# permutation 4j+i = hex chars [8i+1, 8i+8] of md5('j:' || shingle) — mirrors
# operators/dedup.minhash_signatures exactly (4 chunks per md5 seed)
_MINHASH_ORACLE = r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct(list_transform(range(0, len(toks) - 2),
                       i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])))
                  ELSE [concat_ws(' ', toks)] END AS shingles
      FROM t
    )
    SELECT doc_id,
           concat_ws(',',
             list_min(list_transform(shingles, s -> substring(md5('0:' || s), 1, 8))),
             list_min(list_transform(shingles, s -> substring(md5('0:' || s), 9, 8))),
             list_min(list_transform(shingles, s -> substring(md5('0:' || s), 17, 8))),
             list_min(list_transform(shingles, s -> substring(md5('0:' || s), 25, 8))),
             list_min(list_transform(shingles, s -> substring(md5('1:' || s), 1, 8))),
             list_min(list_transform(shingles, s -> substring(md5('1:' || s), 9, 8))),
             list_min(list_transform(shingles, s -> substring(md5('1:' || s), 17, 8))),
             list_min(list_transform(shingles, s -> substring(md5('1:' || s), 25, 8)))) AS signature
    FROM sh ORDER BY doc_id
    """

register("dedup_minhash_signatures", _minhash_sigs, _MINHASH_ORACLE)


# --- MinHash LSH candidate pairs on a duplicated corpus --------------------
def _minhash_lsh(spark, sf_dir):
    d = read_table(spark, sf_dir, "documents")
    # plant near-dups: copy of every 10th doc with one token appended
    planted = (
        d.filter(F.col("doc_id") % 10 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" extra")))
    )
    both = d.unionByName(planted)
    pairs = minhash_lsh_pairs(both, "doc_id", "text", n_hashes=16, n_bands=4, threshold=0.4)
    return pairs.orderBy("id_a", "id_b")


_SH3_Q = (
    "CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(range(0, len(toks) - 2), "
    "i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))) "
    "ELSE [concat_ws(' ', toks)] END"
)
_MINS16_Q = ",\n             ".join(
    f"list_min(list_transform(shingles, s -> substring(md5('{j}:' || s), {1 + 8 * i}, 8)))"
    for j in range(4)
    for i in range(4)
)

# every stage is md5-deterministic, so the banded candidates AND the
# signature-overlap estimate are exactly mirrorable in SQL (upgraded from
# rows-only in round 2)
register(
    "dedup_minhash_lsh_pairs",
    _minhash_lsh,
    rf"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text || ' extra' FROM documents WHERE doc_id % 10 = 0
    ), t AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM corpus
    ), sh AS (
      SELECT doc_id, {_SH3_Q} AS shingles FROM t
    ), sig AS (
      SELECT doc_id, [{_MINS16_Q}] AS sig FROM sh
    ), bands AS (
      SELECT doc_id, b,
             concat_ws('|', sig[b*4+1], sig[b*4+2], sig[b*4+3], sig[b*4+4]) AS key
      FROM sig, range(4) tt(b)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           round(CAST(len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 16, 6) AS est_jaccard
    FROM cand JOIN sig sa ON cand.id_a = sa.doc_id JOIN sig sb ON cand.id_b = sb.doc_id
    WHERE round(CAST(len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 16, 6) >= 0.4
    ORDER BY id_a, id_b
    """,
)


# --- SimHash values --------------------------------------------------------
def _simhash(spark, sf_dir):
    d = read_table(spark, sf_dir, "documents")
    return simhash_values(d, "doc_id", "text").orderBy("doc_id")


_SIMHASH_ORACLE = r"""
    WITH t AS (
      SELECT doc_id,
             list_transform(regexp_split_to_array(trim(lower(text)), '\s+'), x -> md5(x)) AS hs
      FROM documents
    )
    SELECT doc_id,
           list_aggregate(list_transform(range(1, 33), i ->
             CASE WHEN list_sum(list_transform(hs, h ->
                    CASE WHEN substring(h, i, 1) IN ('8','9','a','b','c','d','e','f')
                         THEN 1 ELSE -1 END)) > 0
                  THEN '1' ELSE '0' END), 'string_agg', '') AS simhash
    FROM t ORDER BY doc_id
    """

register("dedup_simhash", _simhash, _SIMHASH_ORACLE)


# --- SimHash near-dup pairs (planted dups, within-source blocking) ---------
def _simhash_pairs(spark, sf_dir):
    d = read_table(spark, sf_dir, "documents")
    planted = (
        d.filter(F.col("doc_id") % 25 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" tail")))
    )
    both = d.unionByName(planted)
    return simhash_pairs(both, "doc_id", "text", "source", max_hamming=4).orderBy("id_a", "id_b")


# md5-deterministic end to end — simhash bits and the blocked hamming join
# mirror exactly in SQL (upgraded from rows-only in round 2)
register(
    "dedup_simhash_pairs",
    _simhash_pairs,
    r"""
    WITH corpus AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, source, text || ' tail' FROM documents WHERE doc_id % 25 = 0
    ), t AS (
      SELECT doc_id, source,
             list_transform(regexp_split_to_array(trim(lower(text)), '\s+'), x -> md5(x)) AS hs
      FROM corpus
    ), sig AS (
      SELECT doc_id, source,
             list_aggregate(list_transform(range(1, 33), i ->
               CASE WHEN list_sum(list_transform(hs, h ->
                      CASE WHEN substring(h, i, 1) IN ('8','9','a','b','c','d','e','f')
                           THEN 1 ELSE -1 END)) > 0
                    THEN '1' ELSE '0' END), 'string_agg', '') AS simhash
      FROM t
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_filter(range(1, 33),
                i -> substring(a.simhash, i, 1) <> substring(b.simhash, i, 1))) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE len(list_filter(range(1, 33),
          i -> substring(a.simhash, i, 1) <> substring(b.simhash, i, 1))) <= 4
    ORDER BY id_a, id_b
    """,
)


# --- n-gram Jaccard near-dup pairs -----------------------------------------
def _jaccard(spark, sf_dir):
    d = read_table(spark, sf_dir, "documents")
    planted = (
        d.filter(F.col("doc_id") % 25 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" tail")))
    )
    both = d.unionByName(planted)
    return jaccard_pairs(both, "doc_id", "text", "source", shingle_k=3, threshold=0.6).orderBy("id_a", "id_b")


register(
    "dedup_jaccard_pairs",
    _jaccard,
    r"""
    WITH both_rows AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, source, text || ' tail' FROM documents WHERE doc_id % 25 = 0
    ), t AS (
      SELECT doc_id, source, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM both_rows
    ), sh AS (
      SELECT doc_id, source,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct(list_transform(range(0, len(toks) - 2),
                       i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])))
                  ELSE [concat_ws(' ', toks)] END AS shingles
      FROM t
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / greatest(len(list_distinct(list_concat(a.shingles, b.shingles))), 1), 6) AS jaccard
    FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                / greatest(len(list_distinct(list_concat(a.shingles, b.shingles))), 1), 6) >= 0.6
    ORDER BY id_a, id_b
    """,
)


# --- MLlib MinHashLSH estimator path (exact oracle) -------------------------
# Promoted off rows-only (r8 #8 / r9 verdict item 7): MLlib's MinHashLSHModel
# hashes a feature vector's nonzero indices with h_t(i) = ((1+i)*a_t + b_t)
# mod 2038074743 (org.apache.spark.ml.feature.MinHashLSH.HASH_PRIME), where
# the (a_t, b_t) pairs come from scala.util.Random(seed) — a spec-fixed PRNG,
# so seed=42 / numHashTables=8 yields the SAME coefficients on every JVM.
# Verified empirically against model.transform before staging them here.
_MLLIB_MINHASH_COEFS = [
    (0, 1562431131, 117392763),
    (1, 1467211249, 102948884),
    (2, 662969971, 2023087525),
    (3, 595021506, 1519796918),
    (4, 1429255520, 196118093),
    (5, 1939977183, 969067502),
    (6, 791955277, 819572292),
    (7, 592164477, 1482678032),
]


def _mllib_coef_values() -> str:
    """VALUES rows generated from _MLLIB_MINHASH_COEFS — single source of
    truth shared by the staged oracle (r10 advice: the inline literal copy
    could silently drift from the staged table)."""
    return ", ".join(f"({t}, {a}, {b})" for t, a, b in _MLLIB_MINHASH_COEFS)


# HashingTF-style fixed feature space for the MLlib twin (r11 verdict #2):
# indices come from a hash of the shingle, not a global vocabulary, so no
# single-partition row_number window and no vocab count() job exist in the
# plan. 2^20 keeps collisions rare at this corpus size; collisions are
# SEMANTICS, not error — MLlib's keyDistance is Jaccard over nonzero index
# sets, and the oracle mirrors the same hashed-index sets exactly.
_MLLIB_FEATURE_DIM = 1 << 20


def _mllib_minhash(spark, sf_dir):
    """MLlib MinHashLSH estimator path with a DETERMINISTIC feature space.

    MinHash values depend on feature INDICES — so the replayable form
    hashes each shingle into a fixed 2^20 feature space via the engine's
    md5 (cross-engine exact: DuckDB computes the same md5 hex and the
    same modulus). This is HashingTF's shape — fully distributed, no
    global sort, no count() pre-pass — replacing the r11 vocab
    row_number() window that was the engine's one single-partition spot.
    The scale path for banded minhash remains operators/dedup.py's
    ``minhash_lsh_pairs`` (relational md5 permutations); this query
    exists to exercise the MLlib estimator surface
    (fit → approxSimilarityJoin) under the same oracle discipline.
    """
    from pyspark.ml.feature import MinHashLSH
    from pyspark.ml.linalg import VectorUDT
    from pyspark.sql import types as T

    d = read_table(spark, sf_dir, "documents")
    planted = (
        d.filter(F.col("doc_id") % 10 == 0)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" extra")))
    )
    both = d.unionByName(planted)
    from ..functions.text import token_shingles

    shingled = both.select(
        "doc_id", token_shingles("text", 3).alias("shingles")
    ).filter(F.size("shingles") > 0)
    idx_sets = (
        shingled.select("doc_id", F.explode("shingles").alias("sh"))
        .select(
            "doc_id",
            (
                F.conv(F.substring(F.md5("sh"), 1, 15), 16, 10).cast("long")
                % _MLLIB_FEATURE_DIM
            ).alias("idx"),
        )
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_set("idx")).alias("idxs"))
    )
    dim = _MLLIB_FEATURE_DIM
    # Sparse VectorUDT construction WITHOUT a Python worker (r14 verdict
    # item 4 — the package's last row-at-a-time F.udf): VectorUDT's sqlType
    # is struct<type:tinyint, size:int, indices:array<int>, values:
    # array<double>> (type 0 = sparse). Build that struct with native
    # expressions, write it to parquet, and read it back declaring the UDT
    # schema — Spark's parquet reader resolves the UDT to its sqlType and
    # wraps, so the whole features table is produced JVM-side (no
    # BatchEvalPython / ArrowEvalPython in the plan). The disk hop is the
    # production shape anyway: materialized features feeding an LSH fit.
    from ..scratch import scratch_dir

    struct_feats = idx_sets.select(
        "doc_id",
        F.struct(
            F.lit(0).cast("tinyint").alias("type"),
            F.lit(dim).alias("size"),
            F.col("idxs").cast("array<int>").alias("indices"),
            F.transform("idxs", lambda _: F.lit(1.0)).alias("values"),
        ).alias("features"),
    )
    fdir = scratch_dir(f"mllib_feats_{sf_dir.rstrip('/').rsplit('/', 1)[-1]}")
    struct_feats.write.mode("overwrite").parquet(fdir)
    feats = spark.read.schema(
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("features", VectorUDT()),
            ]
        )
    ).parquet(fdir)
    mh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=8, seed=42
    ).fit(feats)
    pairs = mh.approxSimilarityJoin(feats, feats, 0.6, distCol="jaccard_dist")
    return (
        pairs.select(
            F.col("datasetA.doc_id").alias("id_a"),
            F.col("datasetB.doc_id").alias("id_b"),
            (F.round(1 - F.col("jaccard_dist"), 6) + F.lit(0.0)).alias("est_jaccard"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .orderBy("id_a", "id_b")
    )


register(
    "dedup_mllib_minhash_lsh",
    _mllib_minhash,
    rf"""
    WITH both_rows AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text || ' extra' FROM documents WHERE doc_id % 10 = 0
    ), t AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM both_rows
    ), sh AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct(list_transform(range(0, len(toks) - 2),
                       i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])))
                  ELSE [concat_ws(' ', toks)] END AS shingles
      FROM t
    ), sh_ok AS (
      SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0
    ), docidx AS (
      SELECT DISTINCT doc_id,
             CAST(('0x' || substring(md5(sh_term), 1, 15)) AS BIGINT)
               % {_MLLIB_FEATURE_DIM} AS idx
      FROM (SELECT doc_id, unnest(shingles) AS sh_term FROM sh_ok)
    ), docsets AS (
      SELECT doc_id, list(idx) AS idxs FROM docidx GROUP BY doc_id
    ), coef(t, a, b) AS (
      VALUES {_mllib_coef_values()}
    ), dochash AS (
      SELECT doc_id, t, min(((1 + idx) * a + b) % 2038074743) AS h
      FROM docidx CROSS JOIN coef GROUP BY doc_id, t
    ), cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM dochash x JOIN dochash y ON x.t = y.t AND x.h = y.h
      WHERE x.doc_id < y.doc_id
    ), verified AS (
      -- MLlib keyDistance = Jaccard over NONZERO INDEX sets, so verify on
      -- the hashed-index sets (collisions merge features on BOTH engines)
      SELECT c.id_a, c.id_b,
             1.0 - CAST(len(list_intersect(a.idxs, b.idxs)) AS DOUBLE)
                   / (len(a.idxs) + len(b.idxs)
                      - len(list_intersect(a.idxs, b.idxs))) AS dist
      FROM cand c
      JOIN docsets a ON a.doc_id = c.id_a
      JOIN docsets b ON b.doc_id = c.id_b
    )
    SELECT id_a, id_b, round(1.0 - dist, 6) + 0.0 AS est_jaccard
    FROM verified WHERE dist < 0.6
    ORDER BY id_a, id_b
    """,
)


# --- deterministic hash split (train/val/test) ------------------------------
def _hash_split(spark, sf_dir):
    from ..operators.sampling import hash_split

    d = read_table(spark, sf_dir, "documents")
    return (
        hash_split(d, "doc_id")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("split")
    )


register(
    "sample_hash_split",
    _hash_split,
    """
    SELECT split, count(*) AS n_docs FROM (
      SELECT CASE
               WHEN CAST(concat('0x', substring(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
               WHEN CAST(concat('0x', substring(md5(concat('split:', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 100 < 90 THEN 'val'
               ELSE 'test'
             END AS split
      FROM documents
    ) t GROUP BY split ORDER BY split
    """,
)


# --- stratified sampling (deterministic hash-threshold keyed on doc_id, so
# the DuckDB oracle selects the IDENTICAL rows — VERDICT r3 #6) --------------
def _stratified(spark, sf_dir):
    from ..operators.sampling import stratified_sample

    d = read_table(spark, sf_dir, "documents")
    samp = stratified_sample(
        d, "lang", {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.25}, key_col="doc_id"
    )
    return samp.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).orderBy("lang")


register(
    "sample_stratified",
    _stratified,
    """
    SELECT lang, count(*) AS n FROM documents
    WHERE CAST(concat('0x', substring(md5(concat('strat42:', CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) / 4294967296.0
          < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25
                      WHEN 'fr' THEN 0.25 WHEN 'es' THEN 0.25 ELSE 0.0 END
    GROUP BY lang ORDER BY lang
    """,
)


# --- deterministic shuffle: first 10 docs in stable pseudo-random order -----
def _shuffled_head(spark, sf_dir):
    from ..operators.sampling import deterministic_shuffle

    d = read_table(spark, sf_dir, "documents")
    return deterministic_shuffle(d, "doc_id").select("doc_id").limit(10)


register(
    "sample_shuffled_head",
    _shuffled_head,
    """
    SELECT doc_id FROM documents
    ORDER BY md5(concat('shuffle:', CAST(doc_id AS VARCHAR)))
    LIMIT 10
    """,
)


# --- prefix-filtered EXACT Jaccard join (AllPairs/PPJoin family) ------------
# Plants a near-dup twin for every 20th doc (one extra token => Jaccard
# s/(s+1) ~ 0.98) so the result is non-trivially populated at every SF; the
# oracle replicates the planting and checks the full all-pairs answer — the
# equality is exactly the prefix-filter completeness theorem under test.
def _prefix_jaccard(spark, sf_dir):
    from ..operators.dedup import prefix_filter_jaccard_pairs

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = (
        d.filter((F.col("doc_id") % 20 == 0) & (F.trim("text") != ""))
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" plantedtoken")))
    )
    both = d.unionByName(planted)
    return (
        prefix_filter_jaccard_pairs(both, "doc_id", "text", threshold=0.8)
        .orderBy("id_a", "id_b")
    )


_PREFIX_JACCARD_ORACLE = rf"""
    WITH docs AS (
      SELECT doc_id, text FROM documents WHERE trim(text) <> ''
      UNION ALL
      SELECT doc_id + 1000000, text || ' plantedtoken' FROM documents
      WHERE doc_id % 20 = 0 AND trim(text) <> ''
    ),
    t AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM docs
    ),
    sh AS (
      SELECT doc_id, {_SH3_Q} AS shingles FROM t
    ),
    tok AS (
      SELECT doc_id, unnest(shingles) AS tok FROM sh
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS o
      FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, round(o * 1.0 / (sa.sz + sb.sz - o), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE round(o * 1.0 / (sa.sz + sb.sz - o), 6) >= 0.8
    ORDER BY id_a, id_b
    """

register("dedup_prefix_jaccard_pairs", _prefix_jaccard, _PREFIX_JACCARD_ORACLE)


def _jaccard_auto(spark, sf_dir, budget_factor: int = 32):
    """Density-adaptive twin of dedup_prefix_jaccard_pairs: identical
    corpus, identical EXACT oracle. At sf0.01/sf0.1 the candidate-budget
    probe (est 1.0x / 25x of n_docs, budget 32x) selects the exact
    AllPairs path; on the dense sf3 corpus — where the exact path measured
    8.7x superlinear (BASELINE.md) — it falls back to 32-hash/16-band
    LSH + exact verify. See operators/dedup.jaccard_pairs_auto.

    ``budget_factor`` is exposed so the LSH fallback BRANCH of this same
    registered query can be pinned against the same exact oracle:
    tests/test_oracle_parity.py::test_jaccard_auto_lsh_branch_matches_oracle
    forces ``budget_factor=0`` (every corpus is "too dense") and requires
    hash-equality with the all-pairs SQL — the r7 advice gap where only
    the exact branch of the dispatcher had driver evidence."""
    from ..operators.dedup import jaccard_pairs_auto

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = (
        d.filter((F.col("doc_id") % 20 == 0) & (F.trim("text") != ""))
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" plantedtoken")))
    )
    both = d.unionByName(planted)
    return jaccard_pairs_auto(
        both, "doc_id", "text", threshold=0.8, budget_factor=budget_factor
    ).orderBy("id_a", "id_b")


register("dedup_jaccard_pairs_auto", _jaccard_auto, _PREFIX_JACCARD_ORACLE)


# --- incremental dedup: new batch vs prebuilt signature index ---------------
def _incremental_vs_index(spark, sf_dir):
    """Daily-crawl dedup: probe a new batch (25 near-dups of indexed docs
    + 25 genuinely novel docs) against the historical corpus' PREBUILT
    MinHash signature index. Only the batch is shingled; the index side
    is the narrow (id, sig) table — see operators/dedup.minhash_lsh_probe.
    Every stage is md5-deterministic, so candidates and overlap estimates
    hash-check exactly against the SQL replay."""
    from ..operators.dedup import minhash_lsh_probe, minhash_signatures

    d = read_table(spark, sf_dir, "documents")
    index_sigs = minhash_signatures(d, "doc_id", "text", n_hashes=16, shingle_k=3)
    near = (
        d.filter(F.col("doc_id") % 20 == 0)
        .withColumn("doc_id", F.col("doc_id") + 2_000_000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" fresh crawl")))
    )
    novel = (
        d.filter(F.col("doc_id") % 20 == 10)
        .withColumn("doc_id", F.col("doc_id") + 2_000_000)
        .withColumn(
            "text",
            F.concat(F.lit("novel document "), F.col("doc_id").cast("string"), F.lit(" zzz unique")),
        )
    )
    batch = near.unionByName(novel)
    return minhash_lsh_probe(
        batch, index_sigs.select("doc_id", "sig"), "doc_id", "text", threshold=0.4
    ).orderBy("new_id", "index_id")


register(
    "dedup_incremental_vs_index",
    _incremental_vs_index,
    rf"""
    WITH idx_t AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents
    ), idx_sh AS (
      SELECT doc_id, {_SH3_Q} AS shingles FROM idx_t
    ), idx_sig AS (
      SELECT doc_id, [{_MINS16_Q}] AS sig FROM idx_sh
    ), batch AS (
      SELECT doc_id + 2000000 AS doc_id, text || ' fresh crawl' AS text
      FROM documents WHERE doc_id % 20 = 0
      UNION ALL
      SELECT doc_id + 2000000,
             'novel document ' || CAST(doc_id + 2000000 AS VARCHAR) || ' zzz unique'
      FROM documents WHERE doc_id % 20 = 10
    ), b_t AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM batch
    ), b_sh AS (
      SELECT doc_id, {_SH3_Q} AS shingles FROM b_t
    ), b_sig AS (
      SELECT doc_id, [{_MINS16_Q}] AS sig FROM b_sh
    ), idx_bands AS (
      SELECT doc_id, b,
             concat_ws('|', sig[b*4+1], sig[b*4+2], sig[b*4+3], sig[b*4+4]) AS key
      FROM idx_sig, range(4) tt(b)
    ), b_bands AS (
      SELECT doc_id, b,
             concat_ws('|', sig[b*4+1], sig[b*4+2], sig[b*4+3], sig[b*4+4]) AS key
      FROM b_sig, range(4) tt(b)
    ), cand AS (
      SELECT DISTINCT nb.doc_id AS new_id, ib.doc_id AS index_id
      FROM b_bands nb JOIN idx_bands ib ON nb.b = ib.b AND nb.key = ib.key
    )
    SELECT new_id, index_id,
           round(CAST(len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 16, 6) AS est_jaccard
    FROM cand JOIN b_sig sa ON cand.new_id = sa.doc_id
              JOIN idx_sig sb ON cand.index_id = sb.doc_id
    WHERE round(CAST(len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 16, 6) >= 0.4
    ORDER BY new_id, index_id
    """,
)


def _streaming_minhash_probe(spark, sf_dir):
    """Streaming near-dup daily-crawl dedup
    (streaming/dedup.run_streaming_minhash_probe): two staged document
    files replayed oldest-first; each micro-batch is LSH-band-probed
    against the signature index AS OF the previous batch, then its own
    signatures are admitted. Day 2 carries near-dups of day 1's novel
    docs — pairs detectable only through the admitted signatures. All
    md5-deterministic, so the oracle replays the banded candidates and
    overlap estimates exactly: batch-1 positions band-join the history
    signatures (stage 0), batch-2 positions band-join history + batch 1
    (stage < batch)."""
    from ..streaming.dedup import run_streaming_minhash_probe

    return run_streaming_minhash_probe(spark, sf_dir, threshold=0.4)


def _streaming_minhash_probe_delta(spark, sf_dir):
    """The DELTA-APPEND state-discipline twin
    (streaming/dedup.run_streaming_minhash_probe_delta): same staged days,
    but admitting a batch writes ONLY its own signatures — an O(batch)
    write — with the probe band-joining base ∪ earlier deltas and a plain
    union compaction on a cadence (signatures are independent rows, so no
    count algebra). Output is identical to the rewrite twin above and the
    SAME staged oracle hash-checks both."""
    from ..streaming.dedup import run_streaming_minhash_probe_delta

    return run_streaming_minhash_probe_delta(spark, sf_dir, threshold=0.4)


# One oracle, two state disciplines (the span-loop pattern): rewrite and
# delta-append admits are defined to produce identical probe output.
_STREAMING_MINHASH_ORACLE = rf"""
    WITH b1 AS (
      SELECT doc_id + 2000000 AS doc_id, text || ' fresh crawl' AS text, 1 AS b
      FROM documents WHERE doc_id % 20 = 0
      UNION ALL
      SELECT doc_id + 2000000,
             'novel document ' || CAST(doc_id + 2000000 AS VARCHAR)
               || ' zzz unique alpha beta gamma', 1
      FROM documents WHERE doc_id % 20 = 10
    ), b2 AS (
      SELECT doc_id + 7000000 AS doc_id,
             'novel document ' || CAST(doc_id + 2000000 AS VARCHAR)
               || ' zzz unique alpha beta gamma extra' AS text, 2 AS b
      FROM documents WHERE doc_id % 20 = 10
      UNION ALL
      SELECT doc_id + 7000000,
             'second crawl ' || CAST(doc_id + 7000000 AS VARCHAR)
               || ' qqq fresh doc', 2
      FROM documents WHERE doc_id % 20 = 15
    ), idx_docs AS (
      SELECT doc_id, text, 0 AS stage FROM documents
      UNION ALL
      SELECT doc_id, text, 1 FROM b1
    ), i_t AS (
      SELECT doc_id, stage, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      FROM idx_docs
    ), i_sh AS (
      SELECT doc_id, stage, {_SH3_Q} AS shingles FROM i_t
    ), i_sig AS (
      SELECT doc_id, stage, [{_MINS16_Q}] AS sig FROM i_sh
    ), bt AS (
      SELECT * FROM b1 UNION ALL SELECT * FROM b2
    ), b_t AS (
      SELECT doc_id, b, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      FROM bt
    ), b_sh AS (
      SELECT doc_id, b, {_SH3_Q} AS shingles FROM b_t
    ), b_sig AS (
      SELECT doc_id, b, [{_MINS16_Q}] AS sig FROM b_sh
    ), i_bands AS (
      SELECT doc_id, stage, bb,
             concat_ws('|', sig[bb*4+1], sig[bb*4+2], sig[bb*4+3], sig[bb*4+4]) AS key
      FROM i_sig, range(4) tt(bb)
    ), b_bands AS (
      SELECT doc_id, b, bb,
             concat_ws('|', sig[bb*4+1], sig[bb*4+2], sig[bb*4+3], sig[bb*4+4]) AS key
      FROM b_sig, range(4) tt(bb)
    ), cand AS (
      SELECT DISTINCT nb.doc_id AS new_id, ib.doc_id AS index_id
      FROM b_bands nb JOIN i_bands ib ON nb.bb = ib.bb AND nb.key = ib.key
      WHERE ib.stage < nb.b
    )
    SELECT new_id, index_id,
           round(CAST(len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 16, 6) AS est_jaccard
    FROM cand JOIN b_sig sa ON cand.new_id = sa.doc_id
              JOIN i_sig sb ON cand.index_id = sb.doc_id
    WHERE round(CAST(len(list_filter(range(1, 17), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 16, 6) >= 0.4
    ORDER BY new_id, index_id
    """

register(
    "dedup_streaming_minhash_probe",
    _streaming_minhash_probe,
    _STREAMING_MINHASH_ORACLE,
)

register(
    "dedup_streaming_minhash_probe_delta",
    _streaming_minhash_probe_delta,
    _STREAMING_MINHASH_ORACLE,
)


def _streaming_minhash_probe_restart(spark, sf_dir):
    """The RESTART drill for the minhash admit loop
    (streaming/dedup.run_streaming_minhash_probe_delta_restart): the same
    staged days and per-batch body as the delta twin, but each day runs as
    its own query lifetime — the DeltaManifest is rebuilt from its durable
    transaction log between days (no driver state survives) and Spark's
    checkpointLocation offset tracking skips the processed file. Output is
    bit-equal to the single-run twins; the SAME staged oracle hash-checks
    the recovery path."""
    from ..streaming.dedup import run_streaming_minhash_probe_delta_restart

    return run_streaming_minhash_probe_delta_restart(spark, sf_dir, threshold=0.4)


register(
    "dedup_streaming_minhash_probe_restart",
    _streaming_minhash_probe_restart,
    _STREAMING_MINHASH_ORACLE,
)


# --- asymmetric containment: wrapper / quote detection ----------------------
def _containment_pairs(spark, sf_dir):
    """Directed near-containment pairs: containment(A in B) =
    |shingles(A) ∩ shingles(B)| / |shingles(A)| >= 0.9. The asymmetric
    twin of the Jaccard join — a boilerplate-wrapped or quoting document
    CONTAINS its source nearly fully while their Jaccard can sit well
    below any dedup threshold, so symmetric dedup misses exactly the
    wrapper-expansion pattern this catches. Planted fixture: every 25th
    doc re-enters wrapped in quote-block boilerplate; each original must
    surface as contained-in its wrapper.

    Scale shape: shingle inverted-index self-join — cost is sum over
    shingles of df², here bounded (max df 7 + the 21-doc planted
    boilerplate); at web scale cap shingle df (drop ultra-common
    shingles) before the join, the standard containment-join lever.
    Intersections and sizes are exact integers; one rounded division at
    the end, hash-exact in the oracle.
    """
    from ..functions.text import token_shingles

    d = read_table(spark, sf_dir, "documents")
    wrapped = (
        d.filter(F.col("doc_id") % 25 == 0)
        .withColumn("doc_id", F.col("doc_id") + 3_000_000)
        .withColumn(
            "text",
            F.concat(F.lit("begin quote block "), F.col("text"), F.lit(" end quote block")),
        )
    )
    corpus = d.unionByName(wrapped)
    sh = (
        corpus.select(
            "doc_id", F.explode(F.array_distinct(token_shingles("text", 3))).alias("s")
        )
        .localCheckpoint(eager=False)  # feeds sizes + both sides of the join
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("doc_id").alias("contained_id"), "s")
    b = sh.select(F.col("doc_id").alias("container_id"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("contained_id") != F.col("container_id"))
        .groupBy("contained_id", "container_id")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("contained_id"), F.col("sz").alias("sz_a")),
            "contained_id",
        )
        .withColumn("containment", F.round(F.col("i") / F.col("sz_a"), 6))
        .filter(F.col("containment") >= 0.9)
        .select("contained_id", "container_id", "containment")
        .orderBy("contained_id", "container_id")
    )


register(
    "text_containment_pairs",
    _containment_pairs,
    r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 3000000, 'begin quote block ' || text || ' end quote block'
      FROM documents WHERE doc_id % 25 = 0
    ), t AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM corpus
    ), sh AS (
      SELECT doc_id, unnest(CASE WHEN len(toks) >= 3
        THEN list_distinct(list_transform(range(0, len(toks) - 2),
             i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3])))
        ELSE [concat_ws(' ', toks)] END) AS s
      FROM t
    ), sizes AS (
      SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS contained_id, b.doc_id AS container_id, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT contained_id, container_id,
           round(CAST(i AS DOUBLE) / sizes.sz, 6) AS containment
    FROM inter JOIN sizes ON inter.contained_id = sizes.doc_id
    WHERE round(CAST(i AS DOUBLE) / sizes.sz, 6) >= 0.9
    ORDER BY contained_id, container_id
    """,
)


# --- group-aware split: whole sources stay in one split ---------------------
def _group_split(spark, sf_dir):
    """Leakage-proof train/val/test split: the hash bucket keys on the
    GROUP column (source), so every document of a source lands in the
    same split by construction — the generator counterpart to
    split_leakage_audit (which detects cross-split near-dups after the
    fact; grouping by origin prevents the dominant leak class up front).
    Same pure-projection shape as sample_hash_split: no shuffle, no
    state, reproducible across engines."""
    from ..operators.sampling import hash_split

    d = read_table(spark, sf_dir, "documents")
    return (
        hash_split(d, "source", seed="gsplit:")
        .groupBy("split")
        .agg(
            F.countDistinct("source").alias("n_sources"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy("split")
    )


register(
    "sample_group_split",
    _group_split,
    """
    SELECT split, CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM (
      SELECT source, CASE
               WHEN CAST(concat('0x', substring(md5(concat('gsplit:', CAST(source AS VARCHAR))), 1, 8)) AS BIGINT) % 100 < 80 THEN 'train'
               WHEN CAST(concat('0x', substring(md5(concat('gsplit:', CAST(source AS VARCHAR))), 1, 8)) AS BIGINT) % 100 < 90 THEN 'val'
               ELSE 'test'
             END AS split
      FROM documents
    ) t GROUP BY split ORDER BY split
    """,
)


# --- duplicated substring spans (ExactSubstr k-gram pass; EXACT oracle) -----
def _duplicated_spans(spark, sf_dir):
    """Corpus-wide duplicated character spans (operators/dedup.duplicated_spans
    — the Lee et al. ExactSubstr pass re-expressed as k-gram dataflow; see
    that docstring for the scale shape). The corpus unions each document
    with a suffix copy (``substring(text, 31)`` under a shifted id) so
    cross-document *partial* overlaps are guaranteed and the gaps-and-islands
    merge is exercised on offsets, not just whole-text duplicates. Every
    stage is deterministic, so start/end/len are value-hashed against the
    oracle — which groups grams by RAW substring equality, making it
    STRICTER than the engine's xxhash64 bucketing (a Spark-side collision
    would surface as a driver hash mismatch; see the operator docstring
    for the ~2e-7 birthday bound)."""
    from ..operators.dedup import duplicated_spans

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    tail = d.select(
        (F.col("doc_id") + F.lit(2_000_000)).alias("doc_id"),
        F.expr("substring(text, 31)").alias("text"),
    )
    corpus = d.unionByName(tail)
    return duplicated_spans(
        corpus, "doc_id", "text", k=20, min_span=40, min_count=2
    ).orderBy("doc_id", "span_start")


# Mirrors duplicated_spans stage by stage, EXCEPT the gram key: Spark
# buckets by xxhash64 (8-byte shuffle rows), the oracle by the raw k-gram
# substring — exact equality, strictly finer-or-equal partitioning, so any
# engine-side collision shows up as a value-hash mismatch. range() is
# end-exclusive where sequence() is inclusive: range(0, len-19) == 0..len-20.
register(
    "dedup_duplicated_spans",
    _duplicated_spans,
    r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000, substring(text, 31) FROM documents
    ), pos AS (
      SELECT c.doc_id, CAST(t.p AS BIGINT) AS pos,
             substring(c.text, CAST(t.p AS INTEGER) + 1, 20) AS gh
      FROM corpus c, unnest(range(0, CAST(length(c.text) AS BIGINT) - 19)) AS t(p)
      WHERE length(c.text) >= 20
    ), dup AS (
      SELECT gh FROM pos GROUP BY gh HAVING count(*) >= 2
    ), cov AS (
      SELECT doc_id, pos FROM pos WHERE gh IN (SELECT gh FROM dup)
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
    )
    SELECT doc_id, min(pos) AS span_start,
           max(pos) + 20 AS span_end,
           max(pos) + 20 - min(pos) AS span_len
    FROM isl GROUP BY doc_id, island
    HAVING max(pos) + 20 - min(pos) >= 40
    ORDER BY doc_id, span_start
    """,
)


# --- strip duplicated spans (the action step after detection; EXACT oracle) -
def _strip_spans(spark, sf_dir):
    """Cut every detected duplicated span out of the same corpus that
    dedup_duplicated_spans analyzes (documents + shifted-id suffix copies)
    and emit per-doc evidence: cleaned length, span count, removed chars,
    and md5(clean_text) so the reconstructed string itself is value-hashed
    without shipping full text through the compare."""
    from ..operators.dedup import strip_duplicated_spans

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    tail = d.select(
        (F.col("doc_id") + F.lit(2_000_000)).alias("doc_id"),
        F.expr("substring(text, 31)").alias("text"),
    )
    corpus = d.unionByName(tail)
    out = strip_duplicated_spans(corpus, "doc_id", "text", k=20, min_span=40, min_count=2)
    return out.select(
        "doc_id",
        F.length("clean_text").alias("clean_len"),
        "n_spans",
        "n_removed",
        F.md5("clean_text").alias("clean_md5"),
    ).orderBy("doc_id")


register(
    "dedup_strip_spans",
    _strip_spans,
    r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000, substring(text, 31) FROM documents
    ), pos AS (
      SELECT c.doc_id, CAST(t.p AS BIGINT) AS pos,
             substring(c.text, CAST(t.p AS INTEGER) + 1, 20) AS gh
      FROM corpus c, unnest(range(0, CAST(length(c.text) AS BIGINT) - 19)) AS t(p)
      WHERE length(c.text) >= 20
    ), dup AS (
      SELECT gh FROM pos GROUP BY gh HAVING count(*) >= 2
    ), cov AS (
      SELECT doc_id, pos FROM pos WHERE gh IN (SELECT gh FROM dup)
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
    ), spans AS (
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
      FROM tails t JOIN corpus c ON c.doc_id = t.doc_id
    ), rebuilt AS (
      SELECT s.doc_id,
             string_agg(substring(c.text, CAST(s.seg_start AS INTEGER) + 1,
                                  CAST(s.seg_end - s.seg_start AS INTEGER)),
                        '' ORDER BY s.seg_start) AS clean
      FROM segs s JOIN corpus c ON c.doc_id = s.doc_id
      WHERE s.seg_end > s.seg_start
      GROUP BY s.doc_id
    ), stats AS (
      SELECT doc_id, count(*) AS n_spans,
             sum(span_end - span_start) AS n_removed
      FROM spans GROUP BY doc_id
    )
    SELECT c.doc_id,
           CAST(length(CASE WHEN st.doc_id IS NULL THEN c.text
                            ELSE coalesce(r.clean, '') END) AS BIGINT) AS clean_len,
           CAST(coalesce(st.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(st.n_removed, 0) AS BIGINT) AS n_removed,
           md5(CASE WHEN st.doc_id IS NULL THEN c.text
                    ELSE coalesce(r.clean, '') END) AS clean_md5
    FROM corpus c
    LEFT JOIN rebuilt r ON r.doc_id = c.doc_id
    LEFT JOIN stats st ON st.doc_id = c.doc_id
    ORDER BY c.doc_id
    """,
)


# --- span-level benchmark decontamination (EXACT oracle) --------------------
def _contamination_spans(spark, sf_dir):
    """Span-level decontamination (operators/dedup.contaminated_spans): the
    documents table is split into a ~1% "benchmark" slice (doc_id % 97 == 0)
    and the training remainder, which is augmented with planted leaks —
    one synthetic train doc per bench doc (shifted id) that quotes the
    bench text verbatim from char 16 and appends a doc-unique tail, so the
    detector must report exactly the quoted region and nothing else
    (natural cross-doc 20-char-gram collisions don't occur in this
    corpus — the un-augmented remainder doubles as the negative case).
    The bench gram set is distinct-hashed and broadcast, so the train side
    runs with no shuffle until the islands window over tainted positions
    only."""
    from ..operators.dedup import contaminated_spans

    bench, train = _decontam_corpus(spark, sf_dir)
    return contaminated_spans(train, bench, "doc_id", "text", k=20, min_span=40).orderBy(
        "doc_id", "span_start"
    )


def _decontam_corpus(spark, sf_dir):
    """Shared bench/train split for the decontamination queries: bench =
    doc_id % 97 == 0; train = the remainder plus, per bench doc, a planted
    leak under id+3000000 quoting the bench text from char 16 with a
    doc-unique tail appended."""
    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    leaks = bench.select(
        (F.col("doc_id") + F.lit(3_000_000)).alias("doc_id"),
        F.concat(
            F.expr("substring(text, 16)"), F.lit(" q"), F.col("doc_id").cast("string")
        ).alias("text"),
    )
    train = d.filter(F.col("doc_id") % 97 != 0).unionByName(leaks)
    return bench, train


# The oracle mirrors stage by stage with RAW 20-char grams (exact string
# equality — stricter than the engine's xxhash64 bucketing, same contract as
# dedup_duplicated_spans).
register(
    "text_contamination_spans",
    _contamination_spans,
    r"""
    WITH bench AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0
    ), train AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
      UNION ALL
      SELECT doc_id + 3000000,
             substring(text, 16) || ' q' || CAST(doc_id AS VARCHAR)
      FROM bench
    ), bgrams AS (
      SELECT DISTINCT substring(b.text, CAST(t.p AS INTEGER) + 1, 20) AS gh
      FROM bench b, unnest(range(0, CAST(length(b.text) AS BIGINT) - 19)) AS t(p)
      WHERE length(b.text) >= 20
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
    )
    SELECT doc_id, min(pos) AS span_start,
           max(pos) + 20 AS span_end,
           max(pos) + 20 - min(pos) AS span_len
    FROM isl GROUP BY doc_id, island
    HAVING max(pos) + 20 - min(pos) >= 40
    ORDER BY doc_id, span_start
    """,
)


def _decontaminate_strip(spark, sf_dir):
    """Decontaminate-by-surgery (operators/dedup.strip_contaminated_spans):
    cut every benchmark-contaminated span out of the training slice (the
    same bench/train+planted-leaks corpus as text_contamination_spans, so
    the cut actually fires) and emit per-doc evidence — cleaned length,
    span count, removed chars, and md5(clean_text) so the rebuilt string
    is value-hashed without shipping full text through the compare."""
    from ..operators.dedup import strip_contaminated_spans

    bench, train = _decontam_corpus(spark, sf_dir)
    out = strip_contaminated_spans(train, bench, "doc_id", "text", k=20, min_span=40)
    return out.select(
        "doc_id",
        F.length("clean_text").alias("clean_len"),
        "n_spans",
        "n_removed",
        F.md5("clean_text").alias("clean_md5"),
    ).orderBy("doc_id")


register(
    "text_decontaminate_strip",
    _decontaminate_strip,
    r"""
    WITH bench AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0
    ), bgrams AS (
      SELECT DISTINCT substring(b.text, CAST(t.p AS INTEGER) + 1, 20) AS gh
      FROM bench b, unnest(range(0, CAST(length(b.text) AS BIGINT) - 19)) AS t(p)
      WHERE length(b.text) >= 20
    ), train AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
      UNION ALL
      SELECT doc_id + 3000000,
             substring(text, 16) || ' q' || CAST(doc_id AS VARCHAR)
      FROM bench
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
    ), spans AS (
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
      SELECT doc_id, count(*) AS n_spans,
             sum(span_end - span_start) AS n_removed
      FROM spans GROUP BY doc_id
    )
    SELECT c.doc_id,
           CAST(length(CASE WHEN st.doc_id IS NULL THEN c.text
                            ELSE coalesce(r.clean, '') END) AS BIGINT) AS clean_len,
           CAST(coalesce(st.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(st.n_removed, 0) AS BIGINT) AS n_removed,
           md5(CASE WHEN st.doc_id IS NULL THEN c.text
                    ELSE coalesce(r.clean, '') END) AS clean_md5
    FROM train c
    LEFT JOIN rebuilt r ON r.doc_id = c.doc_id
    LEFT JOIN stats st ON st.doc_id = c.doc_id
    ORDER BY c.doc_id
    """,
)


# --- incremental span dedup: new batch vs prebuilt gram index ---------------
def _incremental_spans(spark, sf_dir):
    """Daily-crawl span dedup (operators/dedup.incremental_duplicated_spans):
    the historical corpus' prebuilt (gh, n) gram index is probed by a new
    batch of 1/20th suffix copies (verbatim history from char 31, spans
    expected) plus 1/20th novel docs (doc-unique text, no spans). Only the
    batch is exploded; history text is never re-scanned."""
    from ..operators.dedup import gram_index, incremental_duplicated_spans

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx = gram_index(d, "doc_id", "text", k=20)
    near = d.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + F.lit(2_000_000)).alias("doc_id"),
        F.expr("substring(text, 31)").alias("text"),
    )
    novel = d.filter(F.col("doc_id") % 20 == 10).select(
        (F.col("doc_id") + F.lit(2_000_000)).alias("doc_id"),
        F.concat(
            F.lit("novel crawl doc "), F.col("doc_id").cast("string"), F.lit(" zzz")
        ).alias("text"),
    )
    batch = near.unionByName(novel)
    return incremental_duplicated_spans(
        batch, idx, "doc_id", "text", k=20, min_span=40
    ).orderBy("doc_id", "span_start")


# Raw-gram index in the oracle (same stricter-than-xxhash64 contract as the
# other span queries).
_INCR_SPANS_SQL = r"""
    WITH idx AS (
      SELECT DISTINCT substring(c.text, CAST(t.p AS INTEGER) + 1, 20) AS gh
      FROM documents c, unnest(range(0, CAST(length(c.text) AS BIGINT) - 19)) AS t(p)
      WHERE length(c.text) >= 20
    ), batch AS (
      SELECT doc_id + 2000000 AS doc_id, substring(text, 31) AS text
      FROM documents WHERE doc_id % 20 = 0
      UNION ALL
      SELECT doc_id + 2000000,
             'novel crawl doc ' || CAST(doc_id AS VARCHAR) || ' zzz'
      FROM documents WHERE doc_id % 20 = 10
    ), pos AS (
      SELECT c.doc_id, CAST(t.p AS BIGINT) AS pos,
             substring(c.text, CAST(t.p AS INTEGER) + 1, 20) AS gh
      FROM batch c, unnest(range(0, CAST(length(c.text) AS BIGINT) - 19)) AS t(p)
      WHERE length(c.text) >= 20
    ), cov AS (
      SELECT doc_id, pos FROM pos WHERE gh IN (SELECT gh FROM idx)
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
    )
    SELECT doc_id, min(pos) AS span_start,
           max(pos) + 20 AS span_end,
           max(pos) + 20 - min(pos) AS span_len
    FROM isl GROUP BY doc_id, island
    HAVING max(pos) + 20 - min(pos) >= 40
    ORDER BY doc_id, span_start
    """

register("dedup_incremental_spans", _incremental_spans, _INCR_SPANS_SQL)


def _incremental_spans_persisted(spark, sf_dir):
    """The admit-once serving path: gram_index is WRITTEN to parquet and
    the probe answers from the LOADED index — the artifact a daily-crawl
    pipeline builds when a batch is admitted and re-reads per new batch,
    never re-exploding historical text (mirror of
    similarity_ivfpq_probe_prebuilt / dedup_incremental_vs_index for the
    span surface). The index is deterministic (distinct gram hash +
    count), so probe-after-load is bit-equal to the fresh build and the
    SAME oracle hash-checks it."""
    from ..operators.dedup import gram_index, incremental_duplicated_spans
    from ..scratch import run_dir

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    index_dir = run_dir("gram_index")
    gram_index(d, "doc_id", "text", k=20).write.mode("overwrite").parquet(index_dir)
    loaded = spark.read.parquet(index_dir)
    near = d.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + F.lit(2_000_000)).alias("doc_id"),
        F.expr("substring(text, 31)").alias("text"),
    )
    novel = d.filter(F.col("doc_id") % 20 == 10).select(
        (F.col("doc_id") + F.lit(2_000_000)).alias("doc_id"),
        F.concat(
            F.lit("novel crawl doc "), F.col("doc_id").cast("string"), F.lit(" zzz")
        ).alias("text"),
    )
    batch = near.unionByName(novel)
    return incremental_duplicated_spans(
        batch, loaded, "doc_id", "text", k=20, min_span=40
    ).orderBy("doc_id", "span_start")


register(
    "dedup_incremental_spans_persisted",
    _incremental_spans_persisted,
    _INCR_SPANS_SQL,
)


def _incremental_spans_merged(spark, sf_dir):
    """Day-two of the daily-crawl story (operators/dedup.merge_gram_index):
    day 1 admits a batch of NOVEL docs (per-id text that appears nowhere in
    history) and folds its grams into the persisted index WITHOUT a corpus
    rescan; day 2's batch contains verbatim copies of day 1's novel text
    (full-doc spans expected — detectable ONLY through the merge), suffix
    copies of original history (spans via the day-0 index), and genuinely
    novel docs (no spans). The probe answers from the LOADED merged parquet,
    written repartition(gh)-aligned."""
    from ..operators.dedup import (
        gram_index,
        incremental_duplicated_spans,
        merge_gram_index,
    )
    from ..scratch import run_dir

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    day1 = d.filter(F.col("doc_id") % 20 == 10).select(
        (F.col("doc_id") + F.lit(3_000_000)).alias("doc_id"),
        F.concat(
            F.lit("batchone novel payload number "),
            F.col("doc_id").cast("string"),
            F.lit(" padding alpha beta gamma delta epsilon"),
        ).alias("text"),
    )
    index_dir = run_dir("gram_index_merged")
    merged = merge_gram_index(
        gram_index(d, "doc_id", "text", k=20),
        gram_index(day1, "doc_id", "text", k=20),
    )
    merged.repartition(8, "gh").write.mode("overwrite").parquet(index_dir)
    loaded = spark.read.parquet(index_dir)

    copies = day1.select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "text"
    )
    suffix = d.filter(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + F.lit(5_000_000)).alias("doc_id"),
        F.expr("substring(text, 31)").alias("text"),
    )
    novel = d.filter(F.col("doc_id") % 20 == 5).select(
        (F.col("doc_id") + F.lit(5_000_000)).alias("doc_id"),
        F.concat(
            F.lit("daytwo novel doc "), F.col("doc_id").cast("string"), F.lit(" qqz")
        ).alias("text"),
    )
    day2 = copies.unionByName(suffix).unionByName(novel)
    return incremental_duplicated_spans(
        day2, loaded, "doc_id", "text", k=20, min_span=40
    ).orderBy("doc_id", "span_start")


register(
    "dedup_incremental_spans_merged",
    _incremental_spans_merged,
    r"""
    WITH day1 AS (
      -- alias new_id (not doc_id): DuckDB lateral-alias shadowing would
      -- otherwise rebind the CAST in the text expression to the offset id
      SELECT doc_id + 3000000 AS new_id,
             'batchone novel payload number ' || CAST(doc_id AS VARCHAR)
               || ' padding alpha beta gamma delta epsilon' AS text
      FROM documents WHERE doc_id % 20 = 10
    ), idx AS (
      SELECT DISTINCT substring(c.text, CAST(t.p AS INTEGER) + 1, 20) AS gh
      FROM (SELECT text FROM documents UNION ALL SELECT text FROM day1) c,
           unnest(range(0, CAST(length(c.text) AS BIGINT) - 19)) AS t(p)
      WHERE length(c.text) >= 20
    ), day2 AS (
      SELECT new_id + 1000000 AS doc_id, text FROM day1
      UNION ALL
      SELECT doc_id + 5000000, substring(text, 31)
      FROM documents WHERE doc_id % 20 = 0
      UNION ALL
      SELECT doc_id + 5000000,
             'daytwo novel doc ' || CAST(doc_id AS VARCHAR) || ' qqz'
      FROM documents WHERE doc_id % 20 = 5
    ), pos AS (
      SELECT c.doc_id, CAST(t.p AS BIGINT) AS pos,
             substring(c.text, CAST(t.p AS INTEGER) + 1, 20) AS gh
      FROM day2 c, unnest(range(0, CAST(length(c.text) AS BIGINT) - 19)) AS t(p)
      WHERE length(c.text) >= 20
    ), cov AS (
      SELECT doc_id, pos FROM pos WHERE gh IN (SELECT gh FROM idx)
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
    )
    SELECT doc_id, min(pos) AS span_start,
           max(pos) + 20 AS span_end,
           max(pos) + 20 - min(pos) AS span_len
    FROM isl GROUP BY doc_id, island
    HAVING max(pos) + 20 - min(pos) >= 40
    ORDER BY doc_id, span_start
    """,
)


def _streaming_incremental_spans(spark, sf_dir):
    """Structured-Streaming twin of the daily-crawl triad
    (streaming/dedup.run_streaming_span_dedup): two staged document files
    replayed oldest-first, each micro-batch probed against the gram index
    AS OF the previous batch, then folded in via merge_gram_index. Batch 2
    contains verbatim copies of batch 1's novel text — spans detectable
    only because the stream admitted batch 1 — plus suffix copies of
    history (day-0 index) and novel docs (no spans). The oracle replays
    both probes in one chain: batch-1 positions against grams(history),
    batch-2 positions against grams(history ∪ batch 1)."""
    from ..streaming.dedup import run_streaming_span_dedup

    return run_streaming_span_dedup(spark, sf_dir, k=20, min_span=40)


def _streaming_incremental_spans_delta(spark, sf_dir):
    """The DELTA-APPEND state-discipline twin
    (streaming/dedup.run_streaming_span_dedup_delta): the same two staged
    days, but admitting a batch writes ONLY ``idx/delta/batch=N`` — an
    O(batch) write — with the probe reading base ∪ earlier deltas and a
    cadence compaction folding them into a new base. Gram counts are
    independent, so presence in (base ∪ deltas) == presence in the merged
    index and the output is bit-equal to the rewrite twin above — the SAME
    staged oracle hash-checks both disciplines."""
    from ..streaming.dedup import run_streaming_span_dedup_delta

    return run_streaming_span_dedup_delta(spark, sf_dir, k=20, min_span=40)


# One oracle string, two state disciplines: the rewrite and delta admit
# loops are defined to produce identical output (the discipline changes
# WHERE gram counts live between batches, never which grams exist), so the
# same staged DuckDB replay hash-checks both registrations.
_STREAMING_SPANS_ORACLE = r"""
    WITH day1nov AS (
      SELECT doc_id + 3000000 AS new_id,
             'batchone novel payload number ' || CAST(doc_id AS VARCHAR)
               || ' padding alpha beta gamma delta epsilon' AS text
      FROM documents WHERE doc_id % 20 = 10
    ), b1 AS (
      SELECT new_id AS doc_id, text, 1 AS b FROM day1nov
      UNION ALL
      SELECT doc_id + 6000000, substring(text, 31), 1
      FROM documents WHERE doc_id % 20 = 0
    ), b2 AS (
      SELECT new_id + 1000000 AS doc_id, text, 2 AS b FROM day1nov
      UNION ALL
      SELECT doc_id + 5000000,
             'daytwo novel doc ' || CAST(doc_id AS VARCHAR) || ' qqz', 2
      FROM documents WHERE doc_id % 20 = 5
    ), batches AS (
      SELECT * FROM b1 UNION ALL SELECT * FROM b2
    ), idx0 AS (
      SELECT DISTINCT substring(c.text, CAST(t.p AS INTEGER) + 1, 20) AS gh
      FROM documents c, unnest(range(0, CAST(length(c.text) AS BIGINT) - 19)) AS t(p)
      WHERE length(c.text) >= 20
    ), idx1extra AS (
      SELECT DISTINCT substring(c.text, CAST(t.p AS INTEGER) + 1, 20) AS gh
      FROM b1 c, unnest(range(0, CAST(length(c.text) AS BIGINT) - 19)) AS t(p)
      WHERE length(c.text) >= 20
    ), pos AS (
      SELECT c.doc_id, c.b, CAST(t.p AS BIGINT) AS pos,
             substring(c.text, CAST(t.p AS INTEGER) + 1, 20) AS gh
      FROM batches c, unnest(range(0, CAST(length(c.text) AS BIGINT) - 19)) AS t(p)
      WHERE length(c.text) >= 20
    ), cov AS (
      SELECT doc_id, pos FROM pos
      WHERE gh IN (SELECT gh FROM idx0)
         OR (b = 2 AND gh IN (SELECT gh FROM idx1extra))
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
    )
    SELECT doc_id, min(pos) AS span_start,
           max(pos) + 20 AS span_end,
           max(pos) + 20 - min(pos) AS span_len
    FROM isl GROUP BY doc_id, island
    HAVING max(pos) + 20 - min(pos) >= 40
    ORDER BY doc_id, span_start
    """

register(
    "dedup_streaming_incremental_spans",
    _streaming_incremental_spans,
    _STREAMING_SPANS_ORACLE,
)

register(
    "dedup_streaming_incremental_spans_delta",
    _streaming_incremental_spans_delta,
    _STREAMING_SPANS_ORACLE,
)


def _streaming_spans_time_travel(spark, sf_dir):
    """Time-travel reads over the versioned gram index
    (streaming/dedup.run_streaming_span_dedup_time_travel): the delta
    admit loop runs with vacuum deferred, then every checkpointed version
    is recovered as-of (``DeltaManifest.recover(as_of_batch=N)`` — each
    log entry is a full-state snapshot) and its view aggregated. The
    oracle recomputes each day's corpus from scratch, so hash-equality
    proves the day-1 view read AFTER day 2's admit-and-compaction still
    equals the gram index of (history ∪ batch 1) exactly — the
    Delta-Lake-style as-of contract, with vacuum as the retention bound."""
    from ..streaming.dedup import run_streaming_span_dedup_time_travel

    return run_streaming_span_dedup_time_travel(spark, sf_dir, k=20)


register(
    "dedup_streaming_spans_time_travel",
    _streaming_spans_time_travel,
    r"""
    WITH day1nov AS (
      SELECT doc_id + 3000000 AS new_id,
             'batchone novel payload number ' || CAST(doc_id AS VARCHAR)
               || ' padding alpha beta gamma delta epsilon' AS text
      FROM documents WHERE doc_id % 20 = 10
    ), b1 AS (
      SELECT new_id AS doc_id, text FROM day1nov
      UNION ALL
      SELECT doc_id + 6000000, substring(text, 31)
      FROM documents WHERE doc_id % 20 = 0
    ), b2 AS (
      SELECT new_id + 1000000 AS doc_id, text FROM day1nov
      UNION ALL
      SELECT doc_id + 5000000,
             'daytwo novel doc ' || CAST(doc_id AS VARCHAR) || ' qqz'
      FROM documents WHERE doc_id % 20 = 5
    ), g0 AS (
      SELECT substring(c.text, CAST(t.p AS INTEGER) + 1, 20) AS g
      FROM documents c, unnest(range(0, CAST(length(c.text) AS BIGINT) - 19)) AS t(p)
      WHERE length(c.text) >= 20
    ), g1 AS (
      SELECT substring(c.text, CAST(t.p AS INTEGER) + 1, 20) AS g
      FROM b1 c, unnest(range(0, CAST(length(c.text) AS BIGINT) - 19)) AS t(p)
      WHERE length(c.text) >= 20
    ), g2 AS (
      SELECT substring(c.text, CAST(t.p AS INTEGER) + 1, 20) AS g
      FROM b2 c, unnest(range(0, CAST(length(c.text) AS BIGINT) - 19)) AS t(p)
      WHERE length(c.text) >= 20
    )
    SELECT CAST(0 AS INT) AS as_of_day,
           CAST(count(DISTINCT g) AS BIGINT) AS n_grams,
           CAST(count(*) AS BIGINT) AS total_n
    FROM g0
    UNION ALL
    SELECT 1, CAST(count(DISTINCT g) AS BIGINT), CAST(count(*) AS BIGINT)
    FROM (SELECT g FROM g0 UNION ALL SELECT g FROM g1) u1
    UNION ALL
    SELECT 2, CAST(count(DISTINCT g) AS BIGINT), CAST(count(*) AS BIGINT)
    FROM (SELECT g FROM g0 UNION ALL SELECT g FROM g1
          UNION ALL SELECT g FROM g2) u2
    ORDER BY as_of_day
    """,
)


def _streaming_incremental_spans_restart(spark, sf_dir):
    """The RESTART drill for the span admit loop
    (streaming/dedup.run_streaming_span_dedup_delta_restart): same staged
    days and per-batch body as the delta twin, but day 2 runs in a FRESH
    query lifetime with the DeltaManifest recovered from its durable
    transaction log (idx/_log/batch=N.json) and Spark's checkpointLocation
    skipping day 1's file — the kill-between-days durability proof. Output
    is bit-equal to the single-run twins; the SAME staged oracle
    hash-checks the recovery path."""
    from ..streaming.dedup import run_streaming_span_dedup_delta_restart

    return run_streaming_span_dedup_delta_restart(spark, sf_dir, k=20, min_span=40)


register(
    "dedup_streaming_incremental_spans_restart",
    _streaming_incremental_spans_restart,
    _STREAMING_SPANS_ORACLE,
)


# --- corpus duplication report (datacard rollup of the span output) ---------
def _span_stats(spark, sf_dir):
    """Per-source duplication report — the datacard line a training-data
    pipeline publishes from the ExactSubstr pass: how many docs carry
    duplicated spans, what fraction of characters is duplicated, and how
    many docs are majority-duplicate (the drop-vs-strip policy input).
    Runs on the same suffix-copy corpus as dedup_duplicated_spans (source
    carried through the union) so the report exercises real spans."""
    from ..operators.dedup import duplicated_spans

    d = read_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    tail = d.select(
        (F.col("doc_id") + F.lit(2_000_000)).alias("doc_id"),
        "source",
        F.expr("substring(text, 31)").alias("text"),
    )
    corpus = d.unionByName(tail)
    spans = duplicated_spans(corpus, "doc_id", "text", k=20, min_span=40, min_count=2)
    per_doc = spans.groupBy("doc_id").agg(F.sum("span_len").alias("dup_chars"))
    docs = corpus.select("doc_id", "source", F.length("text").alias("n_chars"))
    joined = docs.join(per_doc, "doc_id", "left").select(
        "source",
        "n_chars",
        F.coalesce("dup_chars", F.lit(0)).alias("dup_chars"),
    )
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("dup_chars") > 0).cast("long")).alias("docs_with_spans"),
            F.sum(
                ((F.col("dup_chars") * 2) > F.col("n_chars")).cast("long")
            ).alias("docs_majority_dup"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("dup_chars").alias("dup_chars"),
            F.round(F.sum("dup_chars") / F.sum("n_chars"), 6).alias("dup_ratio"),
        )
        .orderBy("source")
    )


register(
    "dedup_span_stats",
    _span_stats,
    r"""
    WITH corpus AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000, source, substring(text, 31) FROM documents
    ), pos AS (
      SELECT c.doc_id, CAST(t.p AS BIGINT) AS pos,
             substring(c.text, CAST(t.p AS INTEGER) + 1, 20) AS gh
      FROM corpus c, unnest(range(0, CAST(length(c.text) AS BIGINT) - 19)) AS t(p)
      WHERE length(c.text) >= 20
    ), dup AS (
      SELECT gh FROM pos GROUP BY gh HAVING count(*) >= 2
    ), cov AS (
      SELECT doc_id, pos FROM pos WHERE gh IN (SELECT gh FROM dup)
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
    ), spans AS (
      SELECT doc_id, min(pos) AS span_start, max(pos) + 20 AS span_end
      FROM isl GROUP BY doc_id, island
      HAVING max(pos) + 20 - min(pos) >= 40
    ), per_doc AS (
      SELECT doc_id, sum(span_end - span_start) AS dup_chars
      FROM spans GROUP BY doc_id
    ), joined AS (
      SELECT c.source, length(c.text) AS n_chars,
             coalesce(p.dup_chars, 0) AS dup_chars
      FROM corpus c LEFT JOIN per_doc p ON p.doc_id = c.doc_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN dup_chars > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_spans,
           CAST(sum(CASE WHEN dup_chars * 2 > n_chars THEN 1 ELSE 0 END) AS BIGINT) AS docs_majority_dup,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(dup_chars) AS BIGINT) AS dup_chars,
           round(CAST(sum(dup_chars) AS DOUBLE) / sum(n_chars), 6) + 0.0 AS dup_ratio
    FROM joined GROUP BY source ORDER BY source
    """,
)
