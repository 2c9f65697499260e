"""Deduplication operators (extension surface, SURVEY.md §2.9).

Four families, all shuffle-disciplined for 100 TB:

- **exact**: hash-groupBy keep-first. One shuffle on the dedup key; with
  map-side partial agg the shuffle carries one row per distinct key.
- **MinHash + LSH**: shingle → n md5 "permutations" → banded signature →
  self-join on band key. The candidate-pair join is an equi-join on band
  hash, so only same-bucket rows meet — never an O(n²) cross join. Built
  from native column functions (md5/transform/array_min), so the whole
  scheme is oracle-SQL-expressible, unlike the ml.feature.MinHashLSH
  estimator (which is also provided as the MLlib path).
- **SimHash (32-bit, md5-nibble)**: per-token md5, bit i = majority of
  nibble-i high bits. A pure projection; near-dup = small Hamming distance
  within a blocking key.
- **n-gram Jaccard**: exact Jaccard on distinct token shingles for
  candidate pairs produced by a blocking key (default: same ``source``).

Everything is deterministic — md5-derived "hash permutations" replace RNG
so Spark and the DuckDB oracle agree bit-for-bit.

Checkpoint note (100 TB): signature frames that are re-used by 2+ downstream
joins are pinned with ``localCheckpoint(eager=False)`` so the shingle→hash
work runs once. The pin is lazy only past the last exchange: under AQE the
call finalizes the adaptive plan, which runs every upstream shuffle stage
then and there, so that time is spent inside the pin call, not at the first
action (``test_lazy_pin_runs_upstream_shuffles_at_the_call``).
localCheckpoint stores the partitions on executor block managers — cheap
here because every pinned frame is post-aggregation narrow (id + a short
signature, orders of magnitude smaller than the corpus), but it is NOT
fault-tolerant storage: losing an executor forces a stage
recompute. On a long-lived 1000-executor job, prefer an explicit parquet
checkpoint of the signature frame (write once, read per consumer) or drop
the checkpoint and let Catalyst recompute if the input scan is cheap.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.partitioning import fan_out
from ..functions.text import token_shingles, tokens


# --- exact -----------------------------------------------------------------

def exact_dedup(
    df: DataFrame, key_cols: list[str], order_col: str, unique_order: bool = False
) -> DataFrame:
    """Keep the min-``order_col`` row per distinct ``key_cols``.

    groupBy+min instead of Window.row_number: the aggregate combines
    map-side, shuffling one row per key instead of every row.

    The semi-join condition is null-safe (``<=>``): groupBy already treats
    null keys as one group, so a plain equi-join back would silently drop
    every null-key row — a curation run deduping on a nullable key would
    lose data without warning. ``order_col`` is compared null-safely too so
    an all-null-order group still keeps its rows. Rows tied on
    (key, min order) are all kept; pass a unique order column (e.g. the
    document id) for strict keep-one semantics.

    ``unique_order=True`` (r16, guide §2.3 — shuffle fewer bytes): when the
    caller GUARANTEES ``order_col`` is unique and non-null across ``df``
    (every registered caller passes the document id), keep-all-ties and
    keep-one coincide and the dedup collapses to a single min_by-struct
    aggregate — ONE exchange carrying at most one row per key per map task
    (partial aggregation), instead of the agg exchange plus a second full
    shuffle of ``df`` for the semi-join. Null KEYS keep the exact groupBy
    semantics (one null-key group, its min-order row survives). Do not set
    it with a nullable or non-unique order column: min_by ignores
    null-order rows, and ties would keep one arbitrary-but-deterministic
    row instead of all."""
    if unique_order:
        row = F.min_by(F.struct(*df.columns), F.col(order_col)).alias("__row")
        return (
            df.groupBy(*key_cols)
            .agg(row)
            .select(*[F.col("__row").getField(c).alias(c) for c in df.columns])
        )
    keep = df.groupBy(*key_cols).agg(F.min(order_col).alias(order_col))
    cond = None
    for c in key_cols + [order_col]:
        clause = df[c].eqNullSafe(keep[c])
        cond = clause if cond is None else cond & clause
    return df.join(keep, on=cond, how="left_semi")


# --- MinHash ---------------------------------------------------------------

def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n_hashes: int = 16, shingle_k: int = 3
) -> DataFrame:
    """``(id_col, sig: array<string>)`` — one row per input row.

    Relational shape instead of nested higher-order functions: HOF lambdas
    (``transform``/``array_min``) run interpreted outside WholeStageCodegen,
    and a column-level formulation re-evaluates the whole shingle expression
    once per permutation (measured 16×-redundant and ~50× slower). Here
    shingles are exploded to rows, each hashed by ceil(n/4) scalar md5 calls
    (codegen'd, CSE'd), split into four independent 32-bit hex chunks, and
    min-aggregated. The groupBy combines map-side, so the shuffle carries one
    short row per document — the shape that survives 100 TB.

    Permutation ``4j+i`` = chars ``[8i+1, 8i+8]`` of ``md5("j:" + shingle)``;
    lexicographic min of fixed-width lowercase hex == numeric min.
    """
    n_seeds = -(-n_hashes // 4)
    # fan_out: the shingle-explode + md5 stage is CPU-bound and must not run
    # at the scan's (possibly single-file) parallelism — measured 7.4s → 0.9s
    # at sf0.1/local[32]. No-op when the scan already yields enough partitions.
    src = fan_out(df.select(F.col(id_col).alias(id_col), F.col(text_col).alias("__t")))
    sh = src.select(
        id_col, F.explode(token_shingles("__t", shingle_k)).alias("__s")
    )
    chunks = []
    for j in range(n_seeds):
        h = F.md5(F.concat(F.lit(f"{j}:"), F.col("__s")))
        chunks += [
            F.substring(h, 1 + 8 * i, 8).alias(f"__h{j * 4 + i}")
            for i in range(4)
            if j * 4 + i < n_hashes
        ]
    agg = (
        sh.select(id_col, *chunks)
        .groupBy(id_col)
        .agg(*[F.min(f"__h{k}").alias(f"__m{k}") for k in range(n_hashes)])
    )
    return agg.select(id_col, F.array(*[F.col(f"__m{k}") for k in range(n_hashes)]).alias("sig"))


def _lsh_bands(sigs: DataFrame, out_id: str, n_hashes: int, n_bands: int) -> DataFrame:
    """``(out_id, band, key)``: one row per LSH band of each ``(__id, sig)``
    signature, the key being the band's signature positions joined by ``|``."""
    if n_hashes % n_bands:
        raise ValueError(
            f"n_hashes={n_hashes} must be divisible by n_bands={n_bands}; "
            f"otherwise banding silently drops trailing signature positions"
        )
    rows_per_band = n_hashes // n_bands
    return sigs.select(
        F.col("__id").alias(out_id),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws("|", *[F.col("sig").getItem(b * rows_per_band + i) for i in range(rows_per_band)]).alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select(out_id, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def _lsh_candidates(sig_df: DataFrame, n_hashes: int, n_bands: int) -> DataFrame:
    """Distinct ``(id_a, id_b)`` pairs, ``id_a < id_b``, that share at least
    one LSH band of their ``(__id, sig)`` MinHash signatures. The band
    self-join carries only (band, key, id), so wide rows never shuffle
    through the hot join."""
    return (
        _lsh_bands(sig_df, "id_a", n_hashes, n_bands)
        .join(_lsh_bands(sig_df, "id_b", n_hashes, n_bands), on=["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    n_bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding + signature-overlap estimate.

    Returns (id_a, id_b, est_jaccard) with id_a < id_b and
    est_jaccard = matching signature positions / n_hashes >= threshold.

    Candidates come from :func:`_lsh_candidates` as narrow (id_a, id_b)
    pairs; the 16-string signatures are joined back in only for the overlap
    estimate.
    """
    sig_df = minhash_signatures(df, id_col, text_col, n_hashes, shingle_k).select(
        F.col(id_col).alias("__id"), "sig"
    ).localCheckpoint(eager=False)  # compute signatures once, reuse in bands + estimate
    cand = (
        _lsh_candidates(sig_df, n_hashes, n_bands)
        .join(sig_df.select(F.col("__id").alias("id_a"), F.col("sig").alias("sig_a")), on="id_a")
        .join(sig_df.select(F.col("__id").alias("id_b"), F.col("sig").alias("sig_b")), on="id_b")
    )
    n_match = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda a, b: F.when(a == b, F.lit(1)).otherwise(F.lit(0))),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        cand.withColumn("est_jaccard", F.round(n_match / F.lit(float(n_hashes)), 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


# --- SimHash ---------------------------------------------------------------

def simhash_values(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id_col, simhash: 32-char bitstring)`` from per-token md5 nibbles.

    Bit i is 1 when, summed over all tokens, the high bit of md5 nibble i
    (+1 if hex digit >= 8, else -1) is positive. String representation
    sidesteps engine-specific integer/hex conversions.

    Same relational reshape as :func:`minhash_signatures`: a column-level
    ``aggregate(transform(tokens, md5), ...)`` per bit re-evaluates the
    tokenize+hash subtree 32× per row in interpreted HOF mode. Exploding to
    token rows makes md5 a scalar (codegen'd, CSE'd across the 32 nibble
    votes) and the 32 vote sums combine map-side, shuffling one short row
    per document.
    """
    hexes = "89abcdef"
    # fan_out: per-token md5 + 32 votes is CPU-bound (see minhash_signatures)
    src = fan_out(df.select(F.col(id_col), F.col(text_col).alias("__txt")))
    tok = src.select(F.col(id_col), F.explode(tokens("__txt")).alias("__t"))
    h = F.md5(F.col("__t"))
    votes = tok.select(
        id_col,
        *[
            F.when(F.substring(h, i + 1, 1).isin(*hexes), 1).otherwise(-1).alias(f"__b{i}")
            for i in range(32)
        ],
    )
    agg = votes.groupBy(id_col).agg(*[F.sum(f"__b{i}").alias(f"__v{i}") for i in range(32)])
    return agg.select(
        F.col(id_col),
        F.concat(
            *[F.when(F.col(f"__v{i}") > 0, F.lit("1")).otherwise(F.lit("0")) for i in range(32)]
        ).alias("simhash"),
    )


def hamming32(a: Column, b: Column) -> Column:
    """Hamming distance between two 32-char bitstrings."""
    idx = F.sequence(F.lit(1), F.lit(32))
    return F.aggregate(
        idx, F.lit(0), lambda acc, i: acc + F.when(a.substr(i, F.lit(1)) == b.substr(i, F.lit(1)), 0).otherwise(1)
    )


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, block_col: str, max_hamming: int = 6
) -> DataFrame:
    """Near-dup pairs by simhash Hamming distance within a blocking key."""
    sig = simhash_values(df, id_col, text_col)
    s = df.select(F.col(block_col).alias("__blk"), F.col(id_col).alias("__id")).join(
        sig.select(F.col(id_col).alias("__id"), F.col("simhash").alias("__sh")), on="__id"
    ).localCheckpoint(eager=False)
    a = s.select(F.col("__blk"), F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a"))
    b = s.select(F.col("__blk"), F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b"))
    return (
        a.join(b, on="__blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming32(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# --- n-gram Jaccard --------------------------------------------------------

def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    shingle_k: int = 3,
    threshold: float = 0.1,
) -> DataFrame:
    """Exact Jaccard over distinct token shingles for block-mate pairs."""
    s = df.select(
        F.col(block_col).alias("__blk"),
        F.col(id_col).alias("__id"),
        token_shingles(text_col, shingle_k).alias("__sh"),
    ).localCheckpoint(eager=False)
    a = s.select("__blk", F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a"))
    b = s.select("__blk", F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        a.join(b, on="__blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("jaccard", F.round(inter / F.greatest(union, F.lit(1)), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def lsh_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    n_bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs: LSH candidate generation + exact-Jaccard verification.

    The textbook two-stage shape for corpus-scale dedup: the banded MinHash
    self-join proposes candidates (never O(n²) — only same-bucket rows meet),
    then exact Jaccard runs ONLY on candidate pairs (two narrow id-joins ship
    each candidate's shingle set once). Contrast :func:`jaccard_pairs`, which
    verifies every block-mate pair exactly and is quadratic per block — fine
    as a small-block verifier, wrong as the corpus-wide path.

    Returns (id_a, id_b, jaccard) with id_a < id_b and exact
    jaccard >= threshold. Deterministic (md5 permutations), so the whole
    pipeline — candidates included — is oracle-SQL-expressible.
    """
    # every band collision is a candidate (the exact verify decides), so no
    # signature overlap estimate and no signature pin. Pin the candidate
    # list: it feeds both the id-restriction and the final pair join, and
    # recomputing it would re-run the whole band self-join. The band
    # self-join's shuffles run inside this call (AQE finalizes the plan
    # there), so most of the candidate cost shows up here, not at the
    # first action
    cand = _lsh_candidates(
        minhash_signatures(df, id_col, text_col, n_hashes, shingle_k).select(F.col(id_col).alias("__id"), "sig"),
        n_hashes, n_bands,
    ).localCheckpoint(eager=False)
    # shingle ONLY candidate docs: the verify stage needs |cand| ids, a tiny
    # fraction of the corpus, so the semi-join drops ~95% of the tokenize+
    # shingle work (and the shrunken shingle frame broadcast-joins to cand)
    cand_ids = (
        cand.select(F.explode(F.array("id_a", "id_b")).alias("__id")).distinct()
    )
    sh = (
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__txt"))
        .join(cand_ids, on="__id", how="left_semi")
        .select("__id", token_shingles("__txt", shingle_k).alias("__sh"))
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        cand.join(sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("sh_a")), on="id_a")
        .join(sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("sh_b")), on="id_b")
        .withColumn("jaccard", F.round(inter / F.greatest(union, F.lit(1)), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --- prefix-filtered exact set-similarity join -----------------------------

def _prefix_frames(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    shingle_k: int,
) -> tuple[DataFrame, DataFrame]:
    """Shared build for the AllPairs prefix machinery: returns the pinned
    ``(tok, prefix)`` frames — (doc, shingle) rows, and the frequency-ordered
    prefix subset whose self-join generates candidates. Factored out so
    :func:`jaccard_pairs_auto` can price the candidate join from the SAME
    prefix frame it would hand to the exact path (no duplicate build)."""
    from pyspark.sql import Window as W

    base = df.filter(F.trim(F.col(text_col)) != "").select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__t")
    )
    shingles = (
        F.array_distinct(tokens("__t"))
        if shingle_k == 1
        else token_shingles("__t", shingle_k)
    )
    tok = fan_out(base).select("__id", F.explode(shingles).alias("__tok"))
    # pinned: feeds frequency agg, prefix ranking, and both verify sides
    tok = tok.localCheckpoint(eager=False)
    freq = tok.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    wd = W.partitionBy("__id").orderBy("__df", "__tok")
    ranked = (
        tok.join(freq, "__tok")
        .select(
            "__id",
            "__tok",
            F.row_number().over(wd).alias("__pos"),
            F.count(F.lit(1)).over(W.partitionBy("__id")).alias("__sz"),
        )
    )
    # pinned: the prefix frame is BOTH sides of the candidate self-join —
    # unpinned, the doc-frequency join + per-doc window would run twice
    # The 1e-9 relaxation mirrors alpha's: for thresholds whose product
    # lands just above an integer in IEEE double (ceil(0.55*100)=56 vs the
    # exact 55), a raw ceil shortens the prefix by one token and a
    # threshold-boundary pair could be silently dropped. Relaxation only
    # widens the prefix, so exactness is preserved.
    prefix = ranked.filter(
        F.col("__pos")
        <= F.col("__sz") - F.ceil(F.lit(threshold) * F.col("__sz") - 1e-9) + 1
    ).localCheckpoint(eager=False)
    return tok, prefix


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.4,
    shingle_k: int = 3,
    _frames: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """EXACT Jaccard similarity join over distinct token shingles,
    accelerated by frequency-ordered prefix filtering (the AllPairs/PPJoin
    family — Bayardo et al. WWW'07, Xiao et al. WWW'08; public literature).

    ``shingle_k=1`` compares word-token sets; the default 3-token shingles
    match the MinHash path's set representation and are far more
    discriminative on templated corpora (single-word vocabularies overlap
    heavily across near-unrelated documents).

    Unlike the MinHash/SimHash paths this is not approximate: every pair
    with Jaccard >= ``threshold`` is returned, none missed. The trick is
    the candidate generation bound: order each document's tokens by global
    document frequency (rarest first, ties by token), keep only the first
    ``s - ceil(t*s) + 1`` tokens (the *prefix*), and join prefixes on token
    equality. Any pair with Jaccard >= t must share a token in both
    prefixes (pigeonhole on the minimum overlap ``o >= ceil(t*s)``), so
    non-candidates are provably safe to skip. Because prefixes hold the
    RAREST tokens, prefix buckets are small — the join never degenerates
    into the head-token O(n²) blowup a naive token join has.

    Shuffle discipline at 100 TB: the doc-frequency join shuffles
    (doc, token) rows once on token; the per-doc ordering shuffles them
    once on doc; the candidate join shuffles only PREFIX tokens; the exact
    verify ships each doc's token set once per candidate side via two
    narrow id joins. A length filter (``t*sa <= sb <= sa/t``) prunes
    cross-size candidates before the distinct.

    Returns ``(id_a, id_b, jaccard)`` with ``id_a < id_b``,
    ``jaccard >= threshold`` (rounded to 6). Blank documents are excluded
    (they have no token set to compare).
    """
    tok, prefix = _frames or _prefix_frames(df, id_col, text_col, threshold, shingle_k)
    a = prefix.select(
        F.col("__id").alias("id_a"),
        "__tok",
        F.col("__sz").alias("__sa"),
        F.col("__pos").alias("__pa"),
    )
    b = prefix.select(
        F.col("__id").alias("id_b"),
        "__tok",
        F.col("__sz").alias("__sb"),
        F.col("__pos").alias("__pb"),
    )
    # PPJoin position filter: both per-doc lists are sorted by the SAME
    # global order, so the pair's first shared token minimizes __pa AND
    # __pb simultaneously — min() per pair finds it without carrying token
    # ranks. Overlap upper bound = 1 + min(remaining suffix lengths); pairs
    # that can't reach the Jaccard-equivalent overlap floor
    # alpha = ceil(t/(1+t)·(sa+sb)) die before the verify joins (measured
    # 46.4k -> 13.7k candidates, 3.4x, on the templated corpus at sf0.1).
    # The 1e-9 relaxation keeps float rounding at exact-threshold
    # boundaries from over-pruning.
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("__sa") + F.col("__sb")) - 1e-9
    )
    cand = (
        a.join(b, "__tok")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("__sb") >= F.ceil(F.lit(threshold) * F.col("__sa") - 1e-9))
            & (F.col("__sa") >= F.ceil(F.lit(threshold) * F.col("__sb") - 1e-9))
        )
        .groupBy("id_a", "id_b", "__sa", "__sb")
        .agg(F.min("__pa").alias("__pa1"), F.min("__pb").alias("__pb1"))
        .filter(
            F.lit(1)
            + F.least(F.col("__sa") - F.col("__pa1"), F.col("__sb") - F.col("__pb1"))
            >= alpha
        )
        .select("id_a", "id_b")
    )
    # Relational verify: count intersecting shingles per candidate pair via
    # two narrow joins instead of shipping each doc's full shingle ARRAY to
    # every candidate (measured ~2x on the templated corpus — the array
    # form moved hundreds of MB of repeated sets through the join). Set
    # sizes ride along from the prefix stage; |union| = sa + sb - o.
    # Zero-intersection candidates vanish in the inner join — harmless,
    # since jaccard >= threshold > 0 needs at least one shared shingle.
    ta = tok.select(F.col("__id").alias("id_a"), "__tok")
    tb = tok.select(F.col("__id").alias("id_b"), "__tok")
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "__tok"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__o"))
    )
    sizes = tok.groupBy("__id").agg(F.count(F.lit(1)).alias("__sz"))
    za = sizes.select(F.col("__id").alias("id_a"), F.col("__sz").alias("__za"))
    zb = sizes.select(F.col("__id").alias("id_b"), F.col("__sz").alias("__zb"))
    return (
        inter.join(za, "id_a")
        .join(zb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("__o") / (F.col("__za") + F.col("__zb") - F.col("__o")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_pairs_auto(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.4,
    shingle_k: int = 3,
    budget_factor: int = 32,
    n_hashes: int = 32,
    n_bands: int = 16,
) -> DataFrame:
    """Density-adaptive set-similarity join: exact AllPairs/PPJoin when the
    candidate join is affordable, MinHash-LSH + exact-verify when corpus
    density would make it superlinear.

    :func:`prefix_filter_jaccard_pairs` is exact but data-dependent: on
    dense low-entropy corpora prefix buckets fatten and the candidate join
    output grows ~quadratically (measured 8.7x at 3x data on the templated
    sf3 corpus — BASELINE.md). The banded-LSH path is flat at scale but
    probabilistic in RECALL of candidates (the verify stage is still exact
    Jaccard, so no false positives either way). This wrapper prices the
    exact path BEFORE running it, the same budgeted-probe shape as
    ``connected_components_auto`` (graph.py):

    1. build the (tok, prefix) frames once (linear work, two shuffles);
    2. one aggregation over prefix-bucket sizes gives the EXACT upper
       bound on candidate-join output: sum over tokens of n*(n-1)/2 —
       a bounded driver readout (one row);
    3. if the bound <= ``budget_factor * n_docs`` run the exact path ON
       THE SAME pinned frames (probe cost is not paid twice), else fall
       back to :func:`lsh_verified_pairs` with a high-resolution banding
       (default 32 hashes / 16 bands of width 2: candidate-miss
       probability at j=threshold=0.8 is (1-0.8^2)^16 ~ 8e-8, and pairs
       far above threshold — the ones dedup acts on — are effectively
       never missed).

    At 100 TB the probe is what makes the exact path *safe to offer at
    all*: the quadratic blowup is detected for the price of one agg
    instead of discovered as a dead executor.
    """
    tok, prefix = _prefix_frames(df, id_col, text_col, threshold, shingle_k)
    probe = (
        prefix.groupBy("__tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("est_cand"),
        )
        .collect()[0]
    )
    est_cand = int(probe["est_cand"] or 0)
    # doc count from the raw frame, not distinct(__id) over the exploded
    # shingle frame: same value (both apply the non-empty-text gate), but a
    # narrow scan+count instead of a shuffle over |corpus shingles| rows
    n_docs = df.filter(F.trim(F.col(text_col)) != "").count()
    if est_cand <= budget_factor * max(n_docs, 1):
        return prefix_filter_jaccard_pairs(
            df, id_col, text_col, threshold, shingle_k, _frames=(tok, prefix)
        )
    return lsh_verified_pairs(
        df,
        id_col,
        text_col,
        n_hashes=n_hashes,
        n_bands=n_bands,
        shingle_k=shingle_k,
        threshold=threshold,
    )


def minhash_lsh_probe(
    new_df: DataFrame,
    index_sigs: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    n_bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Incremental dedup: band-join a NEW batch against a PREBUILT
    signature index — the daily-crawl-vs-historical-corpus pattern.

    ``index_sigs`` is a ``(id, sig)`` frame as produced by
    :func:`minhash_signatures` (in production: computed once when a batch
    is admitted, appended to a parquet/Delta index, and re-read per new
    batch — the historical TEXT is never re-shingled). Only the new batch
    pays the shingle+hash cost; the band join's left side is
    batch-sized, so probing a 1 M-doc crawl against a 100 TB index is a
    batch-side explode plus one equi-join on (band, key) against the
    narrow index band table. Returns ``(new_id, index_id, est_jaccard)``
    with ``est_jaccard`` = matching signature positions / n_hashes
    ``>= threshold``; candidate pairs dedup on the narrow id pair before
    signatures join back in, exactly like :func:`minhash_lsh_pairs`.
    """
    new_sigs = (
        minhash_signatures(new_df, id_col, text_col, n_hashes, shingle_k)
        .select(F.col(id_col).alias("__id"), "sig")
        .localCheckpoint(eager=False)
    )
    idx = index_sigs.select(
        F.col(index_sigs.columns[0]).alias("__id"), F.col("sig")
    )
    cand = (
        _lsh_bands(new_sigs, "new_id", n_hashes, n_bands)
        .join(_lsh_bands(idx, "index_id", n_hashes, n_bands), ["band", "key"])
        .select("new_id", "index_id")
        .distinct()
        .join(
            new_sigs.select(F.col("__id").alias("new_id"), F.col("sig").alias("sig_a")),
            "new_id",
        )
        .join(
            idx.select(F.col("__id").alias("index_id"), F.col("sig").alias("sig_b")),
            "index_id",
        )
    )
    n_match = F.aggregate(
        F.zip_with(
            "sig_a", "sig_b", lambda a, b: F.when(a == b, F.lit(1)).otherwise(F.lit(0))
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        cand.withColumn("est_jaccard", F.round(n_match / F.lit(float(n_hashes)), 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("new_id", "index_id", "est_jaccard")
    )


# --- substring-span dedup ----------------------------------------------------

def probe_span_strategy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    sample_mod: int = 20,
    flood_factor: float = 4.0,
    salt_factor: float = 0.25,
    max_salted: int = 128,
    min_count: int = 2,
) -> tuple[str, list[int]]:
    """Price the :func:`duplicated_spans` physical shape from a cheap probe
    AND surface the sampled hot grams so the window shape can salt them —
    the same budgeted-probe pattern as :func:`jaccard_pairs_auto` and
    ``connected_components_auto`` (graph.py). The window shape is 1.9x
    faster (sf1) but partitions the k-gram positions by gram hash with NO
    map-side combine, so a corpus-flooding gram (license headers, padding
    runs) lands its entire occurrence list on a single reducer sort. The
    combine shape pays a checkpoint of the position triples but is
    skew-proof.

    Probe (two jobs over a deterministic ``1/sample_mod`` doc sample,
    ``xxhash64(id) % sample_mod``): (1) the sample's total position count
    ``t`` from one doc-LENGTH aggregate — a pure projection, no explode
    (``sum(len(text) - k + 1)`` equals the exploded sum exactly); (2) the
    sampled per-gram counts' UNFILTERED top ``max_salted`` rows — the
    explode runs once, same as the old single-job probe, and only
    ``max_salted`` rows are collected. The combine-flip test runs against
    the unfiltered sampled max (r13 ADVICE: filtering by the salt
    threshold first could, on a tiny sample, drop a gram that exceeds the
    flip threshold and silently flip the documented r7 "combine" verdict
    to "window"); the salt list is then the Python-side subset at or above
    ``salt_factor x t / shuffle.partitions``. Nothing outside the sample
    is touched: at 100 TB the probe costs 1/``sample_mod`` of one pass. A
    cross-doc flood gram appears in ~every doc, so the sample sees
    ~``1/sample_mod`` of its occurrences and both estimates scale back by
    the same factor — which CANCELS in the decision ratios. A within-doc
    repetition flood is captured whole whenever its doc is sampled, which
    only OVERestimates its count — erring toward the skew-proof answer.

    Returns ``(strategy, flood_gh)``:

    - ``strategy``: ``"combine"`` iff some sampled gram count exceeds
      ``flood_factor x t / shuffle.partitions`` (its occurrence list would
      dominate a window task's sort buffer — the r7 rule, unchanged),
      else ``"window"``.
    - ``flood_gh``: gram hashes between the SALT threshold
      (``salt_factor x`` per-reducer, far below the combine flip) and the
      flip — grams too small to force the combine shape but big enough to
      be a window task's wall-clock tail (the r12 sf10 finding: the probe
      correctly chose window, and 2 hot-gram tasks still dominated a
      26-task stage). The window shape salts exactly these (see
      :func:`duplicated_spans`). EXACTNESS GUARD: every returned gram has
      SAMPLED count >= ``min_count``, and sample counts lower-bound true
      counts, so a salted gram is >= ``min_count`` corpus-wide by
      construction — bypassing its exact count preserves the output.
    """
    sample = df.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(sample_mod)) == 0)
    t = (
        sample.filter(F.length(text_col) >= k)
        .agg(F.sum(F.length(text_col) - F.lit(k) + 1))
        .collect()[0][0]
        or 0
    )
    if t == 0:
        return "window", []
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    per_reducer = t / max(n_part, 1)
    salt_thr = max(float(min_count), salt_factor * per_reducer)
    # UNFILTERED top-N: the combine-flip test must see the sampled MAX, not
    # the max among salt-eligible grams — on a tiny sample where
    # flood_factor * per_reducer < min_count, the salt_thr filter could
    # drop a gram that exceeds the flip threshold and silently turn the old
    # "combine" verdict into "window" (r13 ADVICE). Collecting the top
    # max_salted unfiltered is the SAME single gram-count aggregate (the
    # ordering puts below-threshold grams last, so the salt list — the
    # Python-side filter below — is unchanged whenever >= max_salted grams
    # clear salt_thr, and gains nothing spurious otherwise).
    top = (
        _gram_positions(sample, id_col, text_col, k)
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("gh"))
        .limit(max_salted)
        .collect()
    )
    if top and top[0]["n"] > flood_factor * per_reducer:
        return "combine", []
    return "window", [int(r["gh"]) for r in top if r["n"] >= salt_thr]


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    min_span: int = 40,
    min_count: int = 2,
    strategy: str = "auto",
) -> DataFrame:
    """Character-level duplicated-span detection — the substring analogue
    of document dedup (Lee et al., "Deduplicating Training Data Makes
    Language Models Better", ACL 2022 — public literature). Their
    suffix-array ExactSubstr pass finds repeated substrings >= L chars
    anywhere in the corpus; this is the standard practical k-gram
    re-expression of it as dataflow:

    1. explode each doc into all character k-gram start positions
       (``sequence(0, length-k)``) — |corpus chars| narrow rows;
    2. hash each k-gram (``xxhash64`` — codegen'd JVM hash, measured 2.7x
       cheaper per gram than the md5-hex-conv chain the MinHash family
       uses, and 8-byte shuffle rows) and keep positions whose gram
       occurs >= ``min_count`` times corpus-wide;
    3. merge surviving positions per doc into maximal runs
       (gaps-and-islands: equal-length intervals [pos, pos+k) merge iff
       pos <= prev_pos + k, so one lag-compare + running-sum window per
       doc) and keep runs spanning >= ``min_span`` chars.

    Exact semantics (modulo 64-bit hash collisions): every repeated
    substring of length >= k has all its k-grams repeated, so its span is
    fully covered; runs can additionally chain through positions whose
    duplicate partners differ — the standard over-approximation every
    k-gram implementation of ExactSubstr accepts in exchange for never
    materializing suffix arrays. The hash is internal only (unlike
    MinHash signatures it never reaches the output), so the DuckDB
    oracle groups by the RAW k-gram — exact string equality — and the
    driver hash-compare bounds the collision risk for real: at 3M
    distinct grams the birthday term is (3e6)^2 / 2^65 ~ 2e-7 per run.

    Step 2 has two physical shapes, both exact (``strategy``):

    - ``"window"``: ``count(*) over (partition by gh)`` then
      filter — ONE shuffle of the pos triples, each row computed once, no
      materialization. Measured 1.9x faster than ``"combine"`` at sf1
      (17.5 s vs 34 s warm; identical output). The trade: no map-side
      combine, so a single gram repeated ~rows/task times lands on one
      reducer sort.
    - ``"combine"``: localCheckpoint the pos triples, groupBy(gh) count
      (partial-agg, skew-proof) + left-semi join back. Pays the
      checkpoint write of |corpus chars| rows — the right choice only
      when one gram's frequency would swamp a window task (boilerplate
      floods: license headers, empty-field padding) — AQE skew-join
      handles the join-side hot keys.
    - ``"auto"`` (default): price the choice with
      :func:`probe_span_strategy` — a doc-length agg plus a sampled
      per-gram-count probe — so the unattended default is skew-safe
      on flood-gram corpora without giving up the window shape's 1.9x on
      healthy ones (r7 verdict item 1). When the probe picks ``window``
      it also returns the sampled HOT grams (above ``salt_factor x`` the
      per-reducer budget but below the combine flip), and the window pass
      SALTS exactly those: hot-gram rows get partition key ``(gh, salt)``
      — spreading one gram's occurrence list over ``shuffle.partitions``
      tasks, the discipline operators/skew.py applies to joins — and are
      marked covered UNCONDITIONALLY, which is exact because their
      sampled count already proves ``>= min_count`` corpus-wide (sample
      counts lower-bound true counts). Everything else keeps the exact
      windowed count under salt 0. This removes the r12 sf10 finding's
      2-task hot-gram tail (24/26 tasks idle while the flood gram sorts)
      without a second pass, a checkpoint, or any output change.

    Scale shape at 100 TB (window default): step 1 is a projection (no
    shuffle, output linear in corpus chars); step 2 one hash-partitioned
    window (hot grams salted across tasks); step 3 windows per doc
    (shuffle on doc id). Nothing is quadratic and no text leaves the
    scan — only (id, pos, 64-bit hash) triples shuffle.

    Returns ``(id, span_start, span_end, span_len)`` with ``span_end``
    exclusive.
    """
    from pyspark.sql import Window as W

    if strategy not in ("window", "combine", "auto"):
        raise ValueError(
            f"strategy must be 'window', 'combine' or 'auto', got {strategy!r}"
        )
    flood_gh: list[int] = []
    if strategy == "auto":
        strategy, flood_gh = probe_span_strategy(
            df, id_col, text_col, k, min_count=min_count
        )
    pos = _gram_positions(df, id_col, text_col, k)
    if strategy == "window":
        if flood_gh:
            is_flood = F.col("gh").isin(flood_gh)
            n_salts = int(
                df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
            )
            salted = pos.withColumn(
                "__salt",
                F.when(
                    is_flood, F.pmod(F.xxhash64("__id", "pos"), F.lit(n_salts))
                ).otherwise(F.lit(0)),
            )
            covered = (
                salted.withColumn(
                    "n", F.count(F.lit(1)).over(W.partitionBy("gh", "__salt"))
                )
                .filter(is_flood | (F.col("n") >= min_count))
                .select("__id", "pos")
            )
        else:
            covered = (
                pos.withColumn("n", F.count(F.lit(1)).over(W.partitionBy("gh")))
                .filter(F.col("n") >= min_count)
                .select("__id", "pos")
            )
    else:
        # pinned: pos feeds BOTH the duplicated-gram count and the
        # semi-join probe side — unpinned, the explode + per-position
        # hash runs twice (measured 12.2 -> 5.6 s warm at sf0.1 on the
        # original md5 chain)
        pos = pos.localCheckpoint(eager=False)
        dup_grams = (
            pos.groupBy("gh")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= min_count)
            .select("gh")
        )
        covered = pos.join(dup_grams, "gh", "left_semi").select("__id", "pos")

    return _merge_covered_spans(covered, id_col, k, min_span)


def _gram_positions(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """Explode each doc into ``(__id, pos, gh)`` — one row per character
    k-gram start position, gh = xxhash64 of the gram. A pure projection
    (no shuffle, output linear in corpus chars) — but the explode+hash is
    a CPU-bound ~|text|× expansion that inherits the SCAN's parallelism,
    so a corpus in fewer files than the session has cores would hash every
    gram on a handful of tasks while the rest idle (r15, guide §2.5 input
    skew: measured 31/32 cores idle through the span family's hot stage on
    the single-file local corpus). ``fan_out`` moves the narrow doc rows
    once iff the scan is narrower than the core count and is a no-op at
    scale; every consumer (window count, groupBy, semi-join, islands
    merge) is partitioning-invariant, the documented fan_out safety
    contract."""
    # filter BEFORE fan_out (r15 ADVICE): rows shorter than one gram are
    # dropped anyway — shuffling them through the round-robin (and its
    # mandatory local sort) first is pure waste.
    return (
        fan_out(df.select(F.col(id_col), F.col(text_col)).filter(F.length(text_col) >= k))
        .select(
            F.col(id_col).alias("__id"),
            F.explode(
                F.sequence(F.lit(0), F.length(text_col) - F.lit(k))
            ).alias("pos"),
            F.col(text_col).alias("__text"),
        )
        .select(
            "__id",
            "pos",
            F.xxhash64(F.expr(f"substring(__text, pos + 1, {k})")).alias("gh"),
        )
    )


def _merge_covered_spans(
    covered: DataFrame, id_col: str, k: int, min_span: int
) -> DataFrame:
    """Gaps-and-islands merge of covered k-gram start positions into
    maximal spans: equal-length intervals [pos, pos+k) merge iff
    pos <= prev_pos + k (one lag-compare + running-sum window per doc),
    keep runs spanning >= ``min_span`` chars."""
    from pyspark.sql import Window as W

    w = W.partitionBy("__id").orderBy("pos")
    runs = (
        covered.withColumn("prev", F.lag("pos").over(w))
        .withColumn(
            "brk",
            F.when(
                F.col("prev").isNull() | (F.col("pos") > F.col("prev") + k), 1
            ).otherwise(0),
        )
        .withColumn("island", F.sum("brk").over(w.rowsBetween(W.unboundedPreceding, 0)))
    )
    return (
        runs.groupBy("__id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k)).alias("span_end"),
        )
        .withColumn("span_len", F.col("span_end") - F.col("span_start"))
        .filter(F.col("span_len") >= min_span)
        .select(
            F.col("__id").alias(id_col), "span_start", "span_end", "span_len"
        )
    )


def strip_duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    min_span: int = 40,
    min_count: int = 2,
    strategy: str = "auto",
) -> DataFrame:
    """Cut every corpus-duplicated span out of every document — the action
    step that follows :func:`duplicated_spans` in an ExactSubstr dedup pass
    (Lee et al. 2022 remove the repeated substring from all but one
    occurrence; the cut-everywhere policy here is the conservative variant
    several open training-data pipelines use, and keeps the operator a pure
    function of the detection output).

    Relational reconstruction (no UDF): each doc's kept text is the set of
    COMPLEMENT segments between its detected spans. Spans within a doc are
    disjoint by construction (islands merge anything within ``k``), so the
    position-sorted span list of a doc fixes every segment, and
    :func:`_strip_by_spans` cuts and joins them with higher-order
    functions on the doc's row: one shuffle on the doc id beyond the
    detection pass, plus the join back onto the docs.

    Returns ``(id, clean_text, n_spans, n_removed)``; documents with no
    duplicated span pass through unchanged with zeros.
    """
    spans = duplicated_spans(df, id_col, text_col, k, min_span, min_count, strategy)
    return _strip_by_spans(df, spans, id_col, text_col)


def _strip_by_spans(
    df: DataFrame, spans: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Rebuild each doc's text with every span in ``spans`` cut out —
    shared action step behind :func:`strip_duplicated_spans` and
    :func:`strip_contaminated_spans`. ``spans`` must carry
    ``(id_col, span_start, span_end)`` with per-doc disjoint spans (the
    islands merge guarantees this). Returns
    ``(id, clean_text, n_spans, n_removed)``.

    One shuffle for the spans (a position-sorted list per doc) and one
    left join onto the docs; the rebuild is per-row higher-order functions:
    the kept segments run from ``[0] ++ span ends`` to ``span starts ++
    [length]``, so ``zip_with`` cuts them and ``concat_ws`` joins them
    (the span count and removed length come from the same aggregate). A
    doc whose spans cover all its text rebuilds to ``""``; a doc with no
    span passes through with zeros."""
    base = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
    per_doc = spans.groupBy(F.col(id_col).alias("__id")).agg(
        F.array_sort(F.collect_list(F.struct("span_start", "span_end"))).alias("__sp"),
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("span_end") - F.col("span_start")).alias("__removed"),
    )
    sp, text = F.col("__sp"), F.col("__text")
    seg_starts = F.concat(F.array(F.lit(0)), F.transform(sp, lambda s: s["span_end"]))
    seg_ends = F.concat(F.transform(sp, lambda s: s["span_start"]), F.array(F.length(text)))
    pieces = F.zip_with(seg_starts, seg_ends, lambda a, b: text.substr(a + 1, b - a))
    return base.join(per_doc, "__id", "left").select(
        F.col("__id").alias(id_col),
        F.when(sp.isNull(), text).otherwise(F.concat_ws("", pieces)).alias("clean_text"),
        F.coalesce("__n", F.lit(0)).alias("n_spans"),
        F.coalesce("__removed", F.lit(0)).alias("n_removed"),
    )


def contaminated_spans(
    train_df: DataFrame,
    bench_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    min_span: int = 40,
) -> DataFrame:
    """Span-level benchmark decontamination: find every span of a
    TRAINING document that appears verbatim (at k-gram resolution) in a
    BENCHMARK/eval corpus — the check every training run owes its eval
    numbers (the doc-level variant is ``text_benchmark_contamination``;
    this one localizes the overlap so the fix can be a cut instead of a
    drop, the span analogue of the n-gram decontamination passes
    published for GPT-3/PaLM-class training sets).

    Asymmetric by design: a single occurrence in the benchmark taints a
    train position (no ``min_count`` — the benchmark is the forbidden
    set), and benchmark docs are never scanned for spans themselves.

    Scale shape at 100 TB of TRAIN: the benchmark gram set is tiny (eval
    suites are MBs) — distinct-hash it and BROADCAST it, so the train
    side is scan -> explode -> broadcast-semi-join with NO train-side
    shuffle at all until the per-doc islands window, which only sees the
    (rare) tainted positions. Train text never leaves its scan stage.

    Returns ``(id, span_start, span_end, span_len)`` over train ids,
    ``span_end`` exclusive.
    """
    bench_grams = (
        _gram_positions(bench_df, id_col, text_col, k).select("gh").distinct()
    )
    pos = _gram_positions(train_df, id_col, text_col, k)
    covered = pos.join(F.broadcast(bench_grams), "gh", "left_semi").select(
        "__id", "pos"
    )
    return _merge_covered_spans(covered, id_col, k, min_span)


def strip_contaminated_spans(
    train_df: DataFrame,
    bench_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    min_span: int = 40,
) -> DataFrame:
    """Cut every benchmark-contaminated span (see
    :func:`contaminated_spans`) out of every training document —
    decontaminate-by-surgery instead of dropping whole documents, so a
    10k-char doc quoting one eval question keeps its other 9.9k chars.
    Returns ``(id, clean_text, n_spans, n_removed)``; untainted docs pass
    through unchanged with zeros."""
    spans = contaminated_spans(train_df, bench_df, id_col, text_col, k, min_span)
    return _strip_by_spans(train_df, spans, id_col, text_col)


def gram_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
) -> DataFrame:
    """Build the historical gram index for :func:`incremental_duplicated_spans`:
    ``(gh, n)`` — one row per distinct k-gram hash with its corpus-wide
    occurrence count. groupBy combines map-side, so the shuffle carries one
    row per DISTINCT gram, and the result is the narrow admit-once artifact
    a daily-crawl pipeline persists to parquet/Delta and re-reads per batch
    (the historical TEXT is never re-exploded — same contract as the
    MinHash signature index in :func:`minhash_lsh_probe`)."""
    return (
        _gram_positions(df, id_col, text_col, k)
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def merge_gram_index(index_grams: DataFrame, batch_grams: DataFrame) -> DataFrame:
    """Fold a newly-admitted batch's gram counts into the historical
    :func:`gram_index` WITHOUT rescanning (or even touching) historical
    text — the third leg of the daily-crawl triad (build → probe → merge;
    r7 verdict item 3). Pure count algebra: grams are independent, so
    ``index(H ∪ B) == merge(index(H), index(B))`` exactly, and the merged
    artifact day N+1 probes is bit-equal to a from-scratch rebuild.

    Shape: union of two narrow ``(gh, n)`` tables + one map-side-combinable
    groupBy — the shuffle carries one row per distinct gram, dominated by
    the (tiny) batch side since the historical side is already distinct.
    Persist the result re-partitioned by ``gh`` (``repartition(gh)`` before
    the parquet write, or a gh-bucketed table) so successive merges and
    probes co-locate on the same key layout.
    """
    return (
        index_grams.select("gh", "n")
        .unionByName(batch_grams.select("gh", "n"))
        .groupBy("gh")
        .agg(F.sum("n").alias("n"))
    )


def incremental_duplicated_spans(
    batch_df: DataFrame,
    index_grams: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    min_span: int = 40,
    min_index_count: int = 1,
) -> DataFrame:
    """Daily-crawl span dedup: which spans of a NEW batch already exist in
    the historical corpus? Probes the batch's k-gram positions against a
    prebuilt :func:`gram_index` — only the batch pays the explode+hash
    cost, and the join is an equi-semi-join on the 8-byte gram hash.

    ``min_index_count`` is the historical-occurrence threshold (default 1:
    any prior occurrence makes a batch position duplicated — history is
    the authority, mirroring :func:`contaminated_spans` semantics with the
    index side persisted instead of broadcast).

    Scale shape: batch explode is a projection; the index side is already
    the narrow (gh, n) table, orders of magnitude smaller than the corpus
    text; the semi-join shuffles batch triples + index rows on gh (AQE
    picks broadcast automatically when the filtered index fits); the
    islands window sees only covered batch positions. A 1 M-doc crawl
    probing a 100 TB-corpus index never touches historical text.

    Returns ``(id, span_start, span_end, span_len)`` over batch ids.
    """
    pos = _gram_positions(batch_df, id_col, text_col, k)
    hot = index_grams.filter(F.col("n") >= min_index_count).select("gh")
    covered = pos.join(hot, "gh", "left_semi").select("__id", "pos")
    return _merge_covered_spans(covered, id_col, k, min_span)


def hamming_bits(a: Column, b: Column, n_bits: int) -> Column:
    """Hamming distance between two ``n_bits``-char bitstrings."""
    idx = F.sequence(F.lit(1), F.lit(n_bits))
    return F.aggregate(
        idx,
        F.lit(0),
        lambda acc, i: acc
        + F.when(a.substr(i, F.lit(1)) == b.substr(i, F.lit(1)), 0).otherwise(1),
    )


def hamming_band_pairs(
    sig: DataFrame,
    id_col: str,
    bits_col: str,
    n_bits: int = 64,
    n_bands: int = 4,
    max_dist: int = 3,
) -> DataFrame:
    """All pairs within Hamming distance ``max_dist``, by pigeonhole banding.

    Split each bitstring into ``n_bands`` contiguous segments; two strings
    within distance ``max_dist < n_bands`` MUST agree on at least one whole
    segment (pigeonhole), so the candidate set from a per-band equi-join is
    COMPLETE — this is exact search, not probabilistic LSH, as long as
    ``n_bands > max_dist`` (asserted). Candidates then verify with the
    exact bit count. The simhash/phash dedup shape: one narrow
    (band, key, id) shuffle, quadratic only within identical 16-bit band
    buckets — full-entropy hashes collide there only when genuinely near.
    """
    if n_bands <= max_dist:
        raise ValueError(
            f"pigeonhole completeness needs n_bands > max_dist "
            f"(got {n_bands} bands, max_dist {max_dist})"
        )
    if n_bits % n_bands:
        raise ValueError(f"n_bits {n_bits} not divisible into {n_bands} bands")
    if n_bits % 32:
        raise ValueError(f"n_bits {n_bits} must pack into 32-bit words")
    seg = n_bits // n_bands
    # pack the bitstring into 32-bit words ONCE per signature: the verify is
    # then bit_count(xor) per word — whole-stage-codegen arithmetic. The
    # original per-character fold (64 interpreted substr ops per candidate)
    # was the measured bottleneck: random 16-bit band buckets still yield
    # ~C(n,2)/2^16 cross collisions per band, and at sf3 that is ~7e5
    # candidates — the verify must be O(words), not O(bits) interpreted.
    words = [
        F.conv(F.expr(f"substring(__bits, {w * 32 + 1}, 32)"), 2, 10)
        .cast("long")
        .alias(f"__w{w}")
        for w in range(n_bits // 32)
    ]
    s = sig.select(
        F.col(id_col).alias("__id"), F.col(bits_col).alias("__bits")
    ).select("__id", "__bits", *words)
    bands = s.select(
        "__id",
        *[f"__w{w}" for w in range(n_bits // 32)],
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("__b"),
        F.col("__bits"),
    ).select(
        "__id",
        *[f"__w{w}" for w in range(n_bits // 32)],
        "__b",
        F.expr(f"substring(__bits, __b * {seg} + 1, {seg})").alias("__key"),
    )
    nw = n_bits // 32
    left = bands.select(
        "__b",
        "__key",
        F.col("__id").alias("id_a"),
        *[F.col(f"__w{w}").alias(f"__wa{w}") for w in range(nw)],
    )
    right = bands.select(
        "__b",
        "__key",
        F.col("__id").alias("id_b"),
        *[F.col(f"__w{w}").alias(f"__wb{w}") for w in range(nw)],
    )
    dist = sum(
        (
            F.bit_count(F.col(f"__wa{w}").bitwiseXOR(F.col(f"__wb{w}")))
            for w in range(nw)
        ),
        F.lit(0),
    )
    return (
        left.join(right, on=["__b", "__key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(dist <= max_dist)
        .select("id_a", "id_b", dist.cast("int").alias("hamming"))
        .distinct()  # a close pair can collide in several bands
    )
