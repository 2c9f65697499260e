"""Similarity-search queries over ``embeddings`` (extension surface §2.9)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.arrays import as_double, l2_norm
from ..operators.similarity import array_mean, brute_force_topk, ivf_topk, knn_join_pairs
from ..sources import read_table
from .registry import register


# --- array stats (norms/dims) ----------------------------------------------
def _vector_stats(spark, sf_dir):
    e = read_table(spark, sf_dir, "embeddings")
    return (
        e.select(
            "vec_id",
            "label",
            F.size("embedding").alias("dim"),
            F.round(l2_norm("embedding"), 6).alias("l2_norm"),
        )
        .orderBy("vec_id")
    )


register(
    "embedding_vector_stats",
    _vector_stats,
    """
    SELECT vec_id, label,
           CAST(len(embedding) AS INTEGER) AS dim,
           round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))), 6) AS l2_norm
    FROM embeddings ORDER BY vec_id
    """,
)


# --- brute-force cosine top-k ----------------------------------------------
def _bf_topk(spark, sf_dir):
    e = read_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 50 == 0)
    return brute_force_topk(e, queries, k=5).orderBy("query_id", "rank")


register(
    "similarity_bruteforce_topk",
    _bf_topk,
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 50 = 0),
    scored AS (
      SELECT q.query_id, e.vec_id AS corpus_id,
             round(list_sum(list_transform(list_zip(q.qv, e.v), p -> p[1] * p[2]))
                   / (sqrt(list_sum(list_transform(q.qv, x -> x * x)))
                      * sqrt(list_sum(list_transform(e.v, x -> x * x)))), 6) AS cos_sim
      FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, rank, corpus_id, cos_sim FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, corpus_id ASC) AS rank
      FROM scored
    ) t WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)


# --- near-dup pairs with planted perturbed copies --------------------------
def _neardup_pairs(spark, sf_dir):
    e = read_table(spark, sf_dir, "embeddings")
    planted = (
        e.filter(F.col("vec_id") % 40 == 0)
        .withColumn("vec_id", F.col("vec_id") + 1_000_000)
        .withColumn(
            "embedding",
            F.transform(as_double("embedding"), lambda x, i: F.when(i == 0, x + F.lit(0.05)).otherwise(x)),
        )
    )
    both = e.select("vec_id", as_double("embedding").alias("embedding")).unionByName(
        planted.select("vec_id", "embedding")
    )
    # Brute-force is INTENTIONAL here (this is the exact verifier the LSH
    # variants are judged against); allow_quadratic skips the guard's eager
    # count() and keeps the query from raising once embeddings outgrow the
    # unblocked-row cap at larger SFs.
    return knn_join_pairs(both, threshold=0.9, allow_quadratic=True).orderBy(
        "id_a", "id_b"
    )


register(
    "similarity_neardup_pairs",
    _neardup_pairs,
    """
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000,
             list_transform(list_zip(CAST(embedding AS DOUBLE[]),
                                     range(0, len(embedding))),
                            p -> CASE WHEN p[2] = 0 THEN p[1] + 0.05 ELSE p[1] END)
      FROM embeddings WHERE vec_id % 40 = 0
    ), pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))
                   / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
                      * sqrt(list_sum(list_transform(b.v, x -> x * x)))), 6) AS cos_sim
      FROM base a JOIN base b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= 0.9
    ORDER BY id_a, id_b
    """,
)


# --- distributed centroid computation --------------------------------------
def _centroids(spark, sf_dir):
    e = read_table(spark, sf_dir, "embeddings")
    c = array_mean(e, "label")
    return c.select(
        "label",
        F.round(l2_norm("centroid"), 6).alias("centroid_norm"),
        F.round(F.col("centroid").getItem(0), 6).alias("dim0"),
        F.round(F.col("centroid").getItem(1), 6).alias("dim1"),
    ).orderBy("label")


register(
    "embedding_label_centroids",
    _centroids,
    """
    WITH ex AS (
      SELECT label, u.pos - 1 AS pos, u.val
      FROM embeddings,
           LATERAL (SELECT unnest(CAST(embedding AS DOUBLE[])) AS val,
                           generate_subscripts(embedding, 1) AS pos) u
    ), per_dim AS (
      SELECT label, pos, avg(val) AS avg_val FROM ex GROUP BY label, pos
    ), cent AS (
      SELECT label, array_agg(avg_val ORDER BY pos) AS centroid FROM per_dim GROUP BY label
    )
    SELECT label,
           round(sqrt(list_sum(list_transform(centroid, x -> x * x))), 6) AS centroid_norm,
           round(centroid[1], 6) AS dim0,
           round(centroid[2], 6) AS dim1
    FROM cent ORDER BY label
    """,
)


# --- IVF ANN -----------------------------------------------------------------
def _ivf(spark, sf_dir):
    e = read_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 50 == 0)
    return ivf_topk(e, queries, k=5, n_probe=3).orderBy("query_id", "rank")


# approximate-by-construction but fully DETERMINISTIC (label-mean centroids,
# fixed n_probe, exact scoring within probed cells) — so the whole probe +
# search pipeline mirrors in SQL (upgraded from rows-only in round 2)
register(
    "similarity_ivf_topk",
    _ivf,
    """
    WITH ex AS (
      SELECT label, u.pos - 1 AS pos, u.val
      FROM embeddings,
           LATERAL (SELECT unnest(CAST(embedding AS DOUBLE[])) AS val,
                           generate_subscripts(embedding, 1) AS pos) u
    ), per_dim AS (
      SELECT label, pos, avg(val) AS avg_val FROM ex GROUP BY label, pos
    ), cent AS (
      SELECT label, array_agg(avg_val ORDER BY pos) AS centroid FROM per_dim GROUP BY label
    ), q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id % 50 = 0
    ), probes AS (
      SELECT query_id, qv, label FROM (
        SELECT q.query_id, q.qv, cent.label,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round(list_sum(list_transform(list_zip(q.qv, cent.centroid), p -> p[1] * p[2]))
                          / (sqrt(list_sum(list_transform(q.qv, x -> x * x)))
                             * sqrt(list_sum(list_transform(cent.centroid, x -> x * x)))), 6) DESC,
                          cent.label ASC) AS probe_rank
        FROM q CROSS JOIN cent
      ) t WHERE probe_rank <= 3
    ), scored AS (
      SELECT probes.query_id, c.vec_id AS corpus_id,
             round(list_sum(list_transform(list_zip(probes.qv, CAST(c.embedding AS DOUBLE[])), p -> p[1] * p[2]))
                   / (sqrt(list_sum(list_transform(probes.qv, x -> x * x)))
                      * sqrt(list_sum(list_transform(CAST(c.embedding AS DOUBLE[]), x -> x * x)))), 6) AS cos_sim
      FROM embeddings c JOIN probes ON c.label = probes.label
      WHERE c.vec_id <> probes.query_id
    )
    SELECT query_id, CAST(rank AS INT) AS rank, corpus_id, cos_sim FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, corpus_id ASC) AS rank
      FROM scored
    ) t WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)


# --- IVF with self-recall-derived probe count (r11 verdict item 6) ----------
def _ivf_auto(spark, sf_dir):
    """Recall-robust IVF: the probe count is DERIVED from a sampled
    self-recall curve (md5-uniform corpus sample, brute-force truth,
    cell-rank histogram — operators/similarity.ivf_recall_curve) instead of
    fixed. On the driver's weakly-clustered corpus a fixed n_probe=3 reads
    recall@5 0.52 (BASELINE.md r10); this widens the probe set until the
    sampled recall target (0.95) holds. The probe's sampling modulus is
    itself DERIVED from the corpus count (ivf_sample_mod — r12 verdict
    item 1: the earlier fixed sample_mod=10 made the probe O(n^2/10));
    target_queries=50 reproduces the historical sf0.01 sample
    (ceil(500/50)=10) while capping the probe at ~50 brute-forced queries
    at EVERY scale. Fully deterministic, so the whole derivation + search
    replays in SQL; ``n_probe_used`` and ``sample_mod_used`` expose both
    picks to the oracle."""
    from ..operators.similarity import ivf_topk_auto

    e = read_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") % 50 == 0)
    return ivf_topk_auto(
        e, queries, k=5, target_recall=0.95, target_queries=50
    ).orderBy("query_id", "rank")


_COS_Q_CENT = (
    "round(list_sum(list_transform(list_zip({q}, {c}), p -> p[1] * p[2]))"
    " / (sqrt(list_sum(list_transform({q}, x -> x * x)))"
    " * sqrt(list_sum(list_transform({c}, x -> x * x)))), 6)"
)

register(
    "similarity_ivf_auto_topk",
    _ivf_auto,
    f"""
    WITH ex AS (
      SELECT label, u.pos - 1 AS pos, u.val
      FROM embeddings,
           LATERAL (SELECT unnest(CAST(embedding AS DOUBLE[])) AS val,
                           generate_subscripts(embedding, 1) AS pos) u
    ), per_dim AS (
      SELECT label, pos, avg(val) AS avg_val FROM ex GROUP BY label, pos
    ), cent AS (
      SELECT label, array_agg(avg_val ORDER BY pos) AS centroid FROM per_dim GROUP BY label
    ), smod AS (
      SELECT CAST(ceil(count(*) / 50.0) AS BIGINT) AS m FROM embeddings
    ), samp AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings
      WHERE CAST(concat('0x', substring(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
            % (SELECT m FROM smod) = 0
    ), truth AS (
      SELECT query_id, corpus_id FROM (
        SELECT s.query_id, c.vec_id AS corpus_id,
               row_number() OVER (PARTITION BY s.query_id ORDER BY
                 {_COS_Q_CENT.format(q="s.qv", c="CAST(c.embedding AS DOUBLE[])")} DESC,
                 c.vec_id ASC) AS rank
        FROM samp s JOIN embeddings c ON c.vec_id <> s.query_id
      ) t WHERE rank <= 5
    ), cell_ranks AS (
      SELECT query_id, label,
             row_number() OVER (PARTITION BY query_id ORDER BY
               {_COS_Q_CENT.format(q="qv", c="centroid")} DESC, label ASC) AS cell_rank
      FROM samp CROSS JOIN cent
    ), curve AS (
      SELECT cr.cell_rank, count(*) AS pairs
      FROM truth t
      JOIN embeddings n ON n.vec_id = t.corpus_id
      JOIN cell_ranks cr ON cr.query_id = t.query_id AND cr.label = n.label
      GROUP BY cr.cell_rank
    ), pick AS (
      SELECT coalesce(
        (SELECT min(cell_rank) FROM (
           SELECT cell_rank,
                  sum(pairs) OVER (ORDER BY cell_rank) * 1.0 /
                  (SELECT sum(pairs) FROM curve) AS cum_recall
           FROM curve) c WHERE cum_recall >= 0.95),
        (SELECT count(*) FROM cent)) AS n_probe
    ), q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id % 50 = 0
    ), probes AS (
      SELECT query_id, qv, label FROM (
        SELECT q.query_id, q.qv, cent.label,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 {_COS_Q_CENT.format(q="q.qv", c="cent.centroid")} DESC,
                 cent.label ASC) AS probe_rank
        FROM q CROSS JOIN cent
      ) t WHERE probe_rank <= (SELECT n_probe FROM pick)
    ), scored AS (
      SELECT probes.query_id, c.vec_id AS corpus_id,
             {_COS_Q_CENT.format(q="probes.qv", c="CAST(c.embedding AS DOUBLE[])")} AS cos_sim
      FROM embeddings c JOIN probes ON c.label = probes.label
      WHERE c.vec_id <> probes.query_id
    )
    SELECT query_id, CAST(rank AS INT) AS rank, corpus_id, cos_sim,
           CAST((SELECT n_probe FROM pick) AS INT) AS n_probe_used,
           CAST((SELECT m FROM smod) AS INT) AS sample_mod_used
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, corpus_id ASC) AS rank
      FROM scored
    ) t WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)


# --- Arrow/numpy brute-force (EXACT oracle via the within_tol pattern:
# BLAS float ulps can't hash-match a SQL fold directly, so the registered
# output is the HOF top-k — oracle-replayable — plus a per-row boolean
# asserting the Arrow kernel returned the same neighbor at the same rank
# with the same 6dp cosine; the oracle replays the exact top-k and literal
# TRUE. This is the evidence backing brute_force_topk's size-gated
# delegation to the Arrow kernel.) -------------------------------------------
def _bf_topk_arrow(spark, sf_dir):
    from ..operators.similarity import brute_force_topk, brute_force_topk_arrow

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    hof = brute_force_topk(emb, q, k=5, arrow_threshold_pairs=None)
    arrow = brute_force_topk_arrow(emb, q, k=5).select(
        "query_id",
        "rank",
        F.col("corpus_id").alias("__a_id"),
        F.col("cos_sim").alias("__a_cos"),
    )
    return (
        hof.join(arrow, ["query_id", "rank"], "left")
        .select(
            "query_id",
            "rank",
            "corpus_id",
            "cos_sim",
            (
                (F.col("__a_id") == F.col("corpus_id"))
                & (F.abs(F.col("__a_cos") - F.col("cos_sim")) <= F.lit(2e-6))
            ).alias("within_tol"),
        )
        .orderBy("query_id", "rank")
    )


register(
    "similarity_bruteforce_topk_arrow",
    _bf_topk_arrow,
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 20),
    scored AS (
      SELECT q.query_id, e.vec_id AS corpus_id,
             round(list_sum(list_transform(list_zip(q.qv, e.v), p -> p[1] * p[2]))
                   / (sqrt(list_sum(list_transform(q.qv, x -> x * x)))
                      * sqrt(list_sum(list_transform(e.v, x -> x * x)))), 6) AS cos_sim
      FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, rank, corpus_id, cos_sim, TRUE AS within_tol FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, corpus_id ASC) AS rank
      FROM scored
    ) t WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)


# --- embedding near-dup via hyperplane LSH (PROMOTED to an exact oracle in
# r11 — the dedup_mllib_minhash_lsh recipe: the seed-42 hyperplanes are
# deterministic, so they are staged as VALUES literals generated from the
# SAME numpy call the operator runs (single source of truth, no drift) and
# the banded candidate join + exact-cosine verify replay in SQL. The one
# float hazard — a projection so close to zero that cross-engine sum-order
# ulps could flip its sign bit — is absent by measurement: min |projection|
# over sf0.1 corpus ∪ planted is 1.76e-5, ten orders of magnitude above the
# ~1e-15 fold-order error of 64-term double sums.) ---------------------------
def _lsh_hyperplane_values(n_bits: int = 16, dim: int = 64, seed: int = 42) -> str:
    """(bit, pos, c) VALUES rows for the seed-42 PCG64 hyperplanes —
    f-string-interpolated into the oracle so the operator's numpy draw is
    the single source of truth. repr() round-trips float64 exactly."""
    import numpy as np

    h = np.random.default_rng(seed).standard_normal((n_bits, dim))
    return ",".join(
        f"({b},{p},{h[b, p]!r})" for b in range(n_bits) for p in range(dim)
    )


def _lsh_pairs(spark, sf_dir):
    from ..operators.similarity import cosine_lsh_pairs

    emb = read_table(spark, sf_dir, "embeddings")
    # plant exact near-dups: every 25th vector rescaled (cosine == 1)
    planted = (
        emb.filter(F.col("vec_id") % 25 == 0)
        .withColumn("vec_id", F.col("vec_id") + 1_000_000)
        .withColumn("embedding", F.transform(F.col("embedding"), lambda x: x * F.lit(2.0)))
    )
    both = emb.unionByName(planted)
    return cosine_lsh_pairs(both, threshold=0.95).orderBy("id_a", "id_b")


register(
    "similarity_lsh_pairs",
    _lsh_pairs,
    f"""
    WITH h(bit, pos, c) AS (VALUES {_lsh_hyperplane_values()}),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    allv AS (
      SELECT vec_id, v FROM e
      UNION ALL
      SELECT vec_id + 1000000, list_transform(v, x -> x * 2.0)
      FROM e WHERE vec_id % 25 = 0
    ), proj AS (
      SELECT b.vec_id, h.bit, sum(b.v[h.pos + 1] * h.c) AS s
      FROM allv b, h GROUP BY b.vec_id, h.bit
    ), sig AS (
      SELECT vec_id,
             string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY bit) AS sg
      FROM proj GROUP BY vec_id
    ), bands AS (
      SELECT vec_id, bb, substring(sg, CAST(bb * 4 + 1 AS INTEGER), 4) AS key
      FROM sig, range(4) t(bb)
    ), cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bands a JOIN bands b ON a.bb = b.bb AND a.key = b.key
      WHERE a.vec_id < b.vec_id
    )
    SELECT id_a, id_b,
           round(list_sum(list_transform(list_zip(va.v, vb.v), p -> p[1] * p[2]))
                 / (sqrt(list_sum(list_transform(va.v, x -> x * x)))
                    * sqrt(list_sum(list_transform(vb.v, x -> x * x)))), 6) AS cos_sim
    FROM cand JOIN allv va ON cand.id_a = va.vec_id
              JOIN allv vb ON cand.id_b = vb.vec_id
    WHERE round(list_sum(list_transform(list_zip(va.v, vb.v), p -> p[1] * p[2]))
                / (sqrt(list_sum(list_transform(va.v, x -> x * x)))
                   * sqrt(list_sum(list_transform(vb.v, x -> x * x)))), 6) >= 0.95
    ORDER BY id_a, id_b
    """,
)


# --- covariance matrix (distributed BLAS partial outer products) -----------
def _covariance(spark, sf_dir):
    from ..operators.decomposition import covariance_matrix

    emb = read_table(spark, sf_dir, "embeddings")
    return (
        covariance_matrix(emb, "embedding", dim=64)
        # + 0.0 normalizes IEEE negative zero so the exact-hash oracle
        # comparison can't split on round() returning -0.0 on one side only
        .select("i", "j", (F.round("cov", 6) + F.lit(0.0)).alias("cov"))
        .orderBy("i", "j")
    )


register(
    "embedding_covariance",
    _covariance,
    """
    WITH idx AS (SELECT CAST(unnest(range(1, 65)) AS INTEGER) AS i),
    e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT i.i AS i, j.i AS j,
           round(avg(v[i.i] * v[j.i]) - avg(v[i.i]) * avg(v[j.i]), 6) + 0.0 AS cov
    FROM e CROSS JOIN idx i CROSS JOIN idx j
    WHERE i.i <= j.i
    GROUP BY i.i, j.i
    ORDER BY i, j
    """,
)


# --- PCA projection, promoted to an exact oracle (r7 verdict item 4) -------
def _pca_projection(spark, sf_dir):
    """Projection + evidence, the iqr_cascade_approx pattern: the per-vector
    pc values themselves are eigensolver outputs no SQL replays, so the
    registered output is the per-component EVIDENCE that pins the whole
    pipeline — booleans the oracle replays as TRUE plus the covariance
    trace both engines compute independently:

    - ``var_explained_ok``: the population variance of the ACTUAL projected
      scores (a Spark aggregate over :func:`pca_project` output — the real
      dataflow, not the eigensolver's claim) equals the component's
      eigenvalue within 1e-5 (absorbs the 6dp score rounding). A wrong
      eigh, a wrong sign fix, or a wrong projection expression flips this.
    - ``mean_centered_ok``: projected scores average to ~0 (the centering
      offset actually applied).
    - ``ortho_ok``: max |V·Vᵀ − I| ≤ 1e-6 over the top-k components.
    - ``trace``: sum of ALL 64 eigenvalues == total variance == sum of
      per-dimension population variances, which DuckDB computes from the
      raw vectors with no eigensolver — the genuinely shared exact value
      (round 4dp + 0.0 against fold-order ulps).

    Previously rows-only with exact_twin=embedding_covariance, which pinned
    the covariance input but not the projection; this output is hash-exact
    and the per-vector values stay pinned by the orthonormality/variance
    property pytest (tests/test_extensions.py) and served by
    ``operators.decomposition.pca_project``."""
    import numpy as np

    from ..operators.decomposition import pca_components, pca_project

    emb = read_table(spark, sf_dir, "embeddings")
    k = 4
    mean, comps, eigs = pca_components(emb, "embedding", dim=64, k=64)
    v = np.asarray(comps[:k])
    ortho_ok = bool(np.abs(v @ v.T - np.eye(k)).max() <= 1e-6)
    trace = float(np.round(sum(eigs), 4) + 0.0)
    proj = pca_project(
        emb, "vec_id", "embedding", dim=64, k=k, precomputed=(mean, comps)
    )
    aggs = []
    for c in range(1, k + 1):
        pc = F.col(f"pc{c}")
        aggs.append(F.avg(pc).alias(f"m{c}"))
        aggs.append(F.avg(pc * pc).alias(f"s{c}"))
    row = proj.agg(*aggs).collect()[0]
    out = []
    for c in range(1, k + 1):
        m, s = row[f"m{c}"], row[f"s{c}"]
        out.append(
            (
                c,
                bool(abs((s - m * m) - eigs[c - 1]) <= 1e-5),
                bool(abs(m) <= 1e-5),
                ortho_ok,
                trace,
            )
        )
    return spark.createDataFrame(
        out,
        "component int, var_explained_ok boolean, mean_centered_ok boolean, "
        "ortho_ok boolean, trace double",
    ).orderBy("component")


register(
    "embedding_pca_projection",
    _pca_projection,
    """
    WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    dims AS (SELECT CAST(unnest(range(1, 65)) AS INTEGER) AS i),
    pervar AS (
      SELECT avg(v[dims.i] * v[dims.i]) - avg(v[dims.i]) * avg(v[dims.i]) AS vv
      FROM e CROSS JOIN dims GROUP BY dims.i
    ),
    tr AS (SELECT round(sum(vv), 4) + 0.0 AS trace FROM pervar)
    SELECT CAST(t.c AS INTEGER) AS component,
           TRUE AS var_explained_ok,
           TRUE AS mean_centered_ok,
           TRUE AS ortho_ok,
           tr.trace AS trace
    FROM range(1, 5) t(c) CROSS JOIN tr
    ORDER BY component
    """,
)


# --- ZCA whitening, promoted to an exact evidence oracle (was rows-only) ----
def _zca_whiten(spark, sf_dir):
    """Whitening evidence, the embedding_pca_projection pattern: the
    whitened components are eigensolver outputs no SQL replays, so the
    registered output is 64 per-dimension evidence rows computed from the
    REAL whitened dataflow — fully distributed, zero driver readout:

    - ``var_unit_ok``: the population variance of whitened dimension i over
      the actual mapInPandas output equals 1 within 1e-5 (eps=1e-12 keeps
      the λ/(λ+ε) shrinkage ~2e-10, far below tolerance). A wrong W, a
      wrong mean, or a transposed eigenbasis flips this.
    - ``mean_zero_ok``: whitened dimension i averages to ~0 (the centering
      actually applied inside the kernel).
    - ``raw_var``: the dimension's RAW population variance, which DuckDB
      computes from the untouched embeddings with no eigensolver — the
      genuinely shared exact value (round 4dp + 0.0).

    The per-vector values stay pinned by embedding_zca_identity_check
    (the 64×64 identity covariance, exact) and the unit-variance/
    decorrelation property pytest. Previously rows-only (per-vector
    sq_norms, exact_twin=embedding_zca_identity_check)."""
    from ..functions.arrays import as_double
    from ..operators.decomposition import zca_whiten

    emb = read_table(spark, sf_dir, "embeddings")
    white = zca_whiten(emb, "vec_id", "embedding", dim=64, eps=1e-12)
    wstats = (
        white.select(F.posexplode("white").alias("pos", "w"))
        .groupBy("pos")
        .agg(F.avg("w").alias("m"), F.avg(F.col("w") * F.col("w")).alias("s"))
        .select(
            (F.col("pos") + 1).alias("dim"),
            (F.abs(F.col("s") - F.col("m") * F.col("m") - 1.0) <= 1e-5).alias(
                "var_unit_ok"
            ),
            (F.abs("m") <= 1e-5).alias("mean_zero_ok"),
        )
    )
    raw = (
        emb.select(F.posexplode(as_double("embedding")).alias("pos", "v"))
        .groupBy("pos")
        .agg(
            (
                F.round(
                    F.avg(F.col("v") * F.col("v")) - F.avg("v") * F.avg("v"), 4
                )
                + F.lit(0.0)
            ).alias("raw_var")
        )
        .select((F.col("pos") + 1).alias("dim"), "raw_var")
    )
    return wstats.join(raw, on="dim").orderBy("dim")


register(
    "embedding_zca_whiten",
    _zca_whiten,
    """
    WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    dims AS (SELECT CAST(unnest(range(1, 65)) AS INTEGER) AS i)
    SELECT dims.i AS dim,
           TRUE AS var_unit_ok,
           TRUE AS mean_zero_ok,
           round(avg(v[dims.i] * v[dims.i]) - avg(v[dims.i]) * avg(v[dims.i]), 4) + 0.0 AS raw_var
    FROM e CROSS JOIN dims
    GROUP BY dims.i
    ORDER BY dim
    """,
)


# --- ZCA identity check (EXACT oracle) --------------------------------------
def _zca_identity_check(spark, sf_dir):
    """Functional exact-oracle twin for the whitening pipeline: the
    covariance of ZCA-whitened vectors is the identity by construction
    (W Σ W = U diag(λ/(λ+ε)) Uᵀ → I as ε→0), so re-running the
    distributed covariance over the whitened output and rounding must
    reproduce the 64×64 identity bit-exactly. This closes the loop on
    every stage — BLAS partial outer products, the bounded d×d readout,
    driver-side eigh, the broadcast W, and the mapInPandas application —
    with a constant oracle no tolerance can hide behind. eps=1e-12 keeps
    the diagonal shrinkage λ/(λ+ε) ~ 1-2e-10 (λ_min ≈ 6.5e-3 on this
    corpus) far below the 6-decimal rounding.
    """
    from ..operators.decomposition import covariance_matrix, zca_whiten

    emb = read_table(spark, sf_dir, "embeddings")
    white = zca_whiten(emb, "vec_id", "embedding", dim=64, eps=1e-12)
    return (
        covariance_matrix(white, "white", dim=64)
        .select("i", "j", (F.round("cov", 6) + F.lit(0.0)).alias("cov_white"))
        .orderBy("i", "j")
    )


# --- product quantization (integer-exact; see operators/quantization.py) ---
_PQ_CORE_SQL = """
    ex AS (
      SELECT vec_id, u.pos - 1 AS pos,
             CAST(round(CAST(u.val AS DOUBLE) * 1000) AS BIGINT) AS iv
      FROM embeddings,
           LATERAL (SELECT unnest(CAST(embedding AS DOUBLE[])) AS val,
                           generate_subscripts(embedding, 1) AS pos) u
    ),
    sub AS (SELECT vec_id, pos // 8 AS s, pos % 8 AS j, iv FROM ex),
    cb AS (SELECT CAST(vec_id AS INTEGER) AS code, s, j, iv AS cv
           FROM sub WHERE vec_id < 32),
    dist AS (
      SELECT sub.vec_id, sub.s, cb.code,
             sum((sub.iv - cb.cv) * (sub.iv - cb.cv)) AS d
      FROM sub JOIN cb ON sub.s = cb.s AND sub.j = cb.j
      GROUP BY 1, 2, 3
    ),
    codes AS (
      SELECT vec_id, s, code, d FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, code) AS r
        FROM dist) t WHERE r = 1
    )
"""


def _pq_codes(spark, sf_dir):
    """PQ encode: 64-dim float vector -> 8 codes + integer squared
    reconstruction error. Everything integer, so the driver hash-checks
    the codes AND the error bit-exactly."""
    from ..operators.quantization import pq_codebook, pq_encode

    e = read_table(spark, sf_dir, "embeddings")
    cb = pq_codebook(e, "vec_id", "embedding", dim=64, k=32)
    codes = pq_encode(e, cb, "vec_id", "embedding", dim=64)
    return (
        codes.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("s", "code"))),
                    lambda x: x["code"].cast("string"),
                ),
                "-",
            ).alias("pq_code"),
            F.sum("d").alias("sq_err"),
        )
        .select(F.col("id").alias("vec_id"), "pq_code", "sq_err")
        .orderBy("vec_id")
    )


register(
    "embedding_pq_codes",
    _pq_codes,
    f"""
    WITH {_PQ_CORE_SQL}
    SELECT vec_id,
           string_agg(CAST(code AS VARCHAR), '-' ORDER BY s) AS pq_code,
           CAST(sum(d) AS BIGINT) AS sq_err
    FROM codes GROUP BY vec_id ORDER BY vec_id
    """,
)


def _pq_adc_topk(spark, sf_dir):
    """ADC search over PQ codes: distances come from the broadcast
    per-query lookup table, never from raw vectors."""
    from ..operators.quantization import pq_adc_topk, pq_codebook, pq_distance_table, pq_encode

    e = read_table(spark, sf_dir, "embeddings")
    cb = pq_codebook(e, "vec_id", "embedding", dim=64, k=32)
    codes = pq_encode(e, cb, "vec_id", "embedding", dim=64)
    q = e.filter(F.col("vec_id") % 50 == 0)
    dt = pq_distance_table(q, cb, "vec_id", "embedding", dim=64)
    return pq_adc_topk(codes, dt, k_top=5).orderBy("query_id", "rank")


register(
    "embedding_pq_adc_topk",
    _pq_adc_topk,
    f"""
    WITH {_PQ_CORE_SQL},
    dt AS (
      SELECT sub.vec_id AS query_id, sub.s, cb.code,
             sum((sub.iv - cb.cv) * (sub.iv - cb.cv)) AS d
      FROM sub JOIN cb ON sub.s = cb.s AND sub.j = cb.j
      WHERE sub.vec_id % 50 = 0
      GROUP BY 1, 2, 3
    ),
    scored AS (
      SELECT dt.query_id, codes.vec_id AS corpus_id, sum(dt.d) AS adc
      FROM codes JOIN dt ON codes.s = dt.s AND codes.code = dt.code
      WHERE dt.query_id <> codes.vec_id
      GROUP BY 1, 2
    )
    SELECT query_id, CAST(rank AS INT) AS rank, corpus_id,
           CAST(adc AS BIGINT) AS adc_dist
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY adc, corpus_id) AS rank
          FROM scored) t
    WHERE rank <= 5 ORDER BY query_id, rank
    """,
)


def _pq_recall(spark, sf_dir):
    """Recall@5 of ADC search vs the exact integer-L2 top-5 on the same
    quantized values — the quality metric a 100 TB index build would
    monitor. Integer hit counts, so the oracle is exact."""
    from ..operators.quantization import (
        exact_int_l2_topk,
        pq_adc_topk,
        pq_codebook,
        pq_distance_table,
        pq_encode,
    )

    e = read_table(spark, sf_dir, "embeddings")
    cb = pq_codebook(e, "vec_id", "embedding", dim=64, k=32)
    codes = pq_encode(e, cb, "vec_id", "embedding", dim=64)
    q = e.filter(F.col("vec_id") % 50 == 0)
    dt = pq_distance_table(q, cb, "vec_id", "embedding", dim=64)
    adc = (
        pq_adc_topk(codes, dt, k_top=5)
        .select("query_id", "corpus_id")
        .withColumn("hit", F.lit(1))
    )
    exact = exact_int_l2_topk(e, q, "vec_id", "embedding", dim=64, k_top=5).select(
        "query_id", "corpus_id"
    )
    return (
        exact.join(adc, ["query_id", "corpus_id"], "left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).alias("hits_at_5"))
        .orderBy("query_id")
    )


register(
    "embedding_pq_recall_at5",
    _pq_recall,
    f"""
    WITH {_PQ_CORE_SQL},
    dt AS (
      SELECT sub.vec_id AS query_id, sub.s, cb.code,
             sum((sub.iv - cb.cv) * (sub.iv - cb.cv)) AS d
      FROM sub JOIN cb ON sub.s = cb.s AND sub.j = cb.j
      WHERE sub.vec_id % 50 = 0
      GROUP BY 1, 2, 3
    ),
    adc_scored AS (
      SELECT dt.query_id, codes.vec_id AS corpus_id, sum(dt.d) AS adc
      FROM codes JOIN dt ON codes.s = dt.s AND codes.code = dt.code
      WHERE dt.query_id <> codes.vec_id
      GROUP BY 1, 2
    ),
    adc_k AS (
      SELECT query_id, corpus_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc, corpus_id) AS rank
        FROM adc_scored) t WHERE rank <= 5
    ),
    exact_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
             sum((c.iv - q.iv) * (c.iv - q.iv)) AS d
      FROM ex c JOIN ex q ON c.pos = q.pos
      WHERE q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id
      GROUP BY 1, 2
    ),
    exact_k AS (
      SELECT query_id, corpus_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY d, corpus_id) AS rank
        FROM exact_scored) t WHERE rank <= 5
    )
    SELECT exact_k.query_id, CAST(count(adc_k.corpus_id) AS BIGINT) AS hits_at_5
    FROM exact_k LEFT JOIN adc_k
      ON exact_k.query_id = adc_k.query_id AND exact_k.corpus_id = adc_k.corpus_id
    GROUP BY exact_k.query_id ORDER BY exact_k.query_id
    """,
)


def _pq_train_step(spark, sf_dir):
    """One distributed Lloyd step of PQ training: total integer
    quantization error before vs after. Lloyd provably never increases
    the error (assign-then-mean each weakly improves), so
    ``err_refined <= err_init`` — the pytest property — and both sums
    replay bit-exactly in the oracle (the refined codebook is
    integer-rounded means of exact-integer sums)."""
    from ..operators.quantization import pq_codebook, pq_encode, pq_lloyd_refine

    e = read_table(spark, sf_dir, "embeddings")
    cb0 = pq_codebook(e, "vec_id", "embedding", dim=64, k=32)
    # NB: the refine step re-runs the assignment internally; at scale the
    # codes frame would be persisted across the two uses, but at bench SF
    # the double assignment is cheaper than a persist round-trip.
    err0 = pq_encode(e, cb0, "vec_id", "embedding", dim=64).agg(
        F.sum("d").alias("err_init")
    )
    cb1 = pq_lloyd_refine(e, cb0, "vec_id", "embedding", dim=64)
    err1 = pq_encode(e, cb1, "vec_id", "embedding", dim=64).agg(
        F.sum("d").alias("err_refined")
    )
    return err0.crossJoin(err1)


register(
    "embedding_pq_train_step",
    _pq_train_step,
    f"""
    WITH {_PQ_CORE_SQL},
    means AS (
      SELECT codes.s, codes.code, sub.j,
             CAST(round(avg(sub.iv)) AS BIGINT) AS nv
      FROM sub JOIN codes ON sub.vec_id = codes.vec_id AND sub.s = codes.s
      GROUP BY 1, 2, 3
    ),
    cb1 AS (
      SELECT cb.code, cb.s, cb.j, coalesce(means.nv, cb.cv) AS cv
      FROM cb LEFT JOIN means
        ON cb.s = means.s AND cb.code = means.code AND cb.j = means.j
    ),
    dist1 AS (
      SELECT sub.vec_id, sub.s, cb1.code,
             sum((sub.iv - cb1.cv) * (sub.iv - cb1.cv)) AS d
      FROM sub JOIN cb1 ON sub.s = cb1.s AND sub.j = cb1.j
      GROUP BY 1, 2, 3
    ),
    codes1 AS (
      SELECT vec_id, s, code, d FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, code) AS r
        FROM dist1) t WHERE r = 1
    )
    SELECT (SELECT CAST(sum(d) AS BIGINT) FROM codes) AS err_init,
           (SELECT CAST(sum(d) AS BIGINT) FROM codes1) AS err_refined
    """,
)


register(
    "embedding_zca_identity_check",
    _zca_identity_check,
    """
    WITH idx AS (SELECT CAST(unnest(range(1, 65)) AS INTEGER) AS i)
    SELECT i.i AS i, j.i AS j,
           CAST(CASE WHEN i.i = j.i THEN 1.0 ELSE 0.0 END AS DOUBLE) + 0.0 AS cov_white
    FROM idx i CROSS JOIN idx j
    WHERE i.i <= j.i
    ORDER BY i, j
    """,
)


# --- IVF-PQ persisted index: build once, probe without retraining -----------
_IVFPQ_PROBE_SQL = """
    WITH {core},
    dt AS (
      SELECT sub.vec_id AS query_id, sub.s, cb.code,
             sum((sub.iv - cb.cv) * (sub.iv - cb.cv)) AS d
      FROM sub JOIN cb ON sub.s = cb.s AND sub.j = cb.j
      WHERE sub.vec_id % 50 = 0
      GROUP BY 1, 2, 3
    ),
    exl AS (
      SELECT label, u.pos - 1 AS pos, u.val
      FROM embeddings,
           LATERAL (SELECT unnest(CAST(embedding AS DOUBLE[])) AS val,
                           generate_subscripts(embedding, 1) AS pos) u
    ), per_dim AS (
      SELECT label, pos, avg(val) AS avg_val FROM exl GROUP BY label, pos
    ), cent AS (
      SELECT label, array_agg(avg_val ORDER BY pos) AS centroid FROM per_dim GROUP BY label
    ), q AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id % 50 = 0
    ), probes AS (
      SELECT query_id, label FROM (
        SELECT q.query_id, cent.label,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round(list_sum(list_transform(list_zip(q.qv, cent.centroid), p -> p[1] * p[2]))
                          / (sqrt(list_sum(list_transform(q.qv, x -> x * x)))
                             * sqrt(list_sum(list_transform(cent.centroid, x -> x * x)))), 6) DESC,
                          cent.label ASC) AS probe_rank
        FROM q CROSS JOIN cent
      ) t WHERE probe_rank <= 3
    ), scored AS (
      SELECT dt.query_id, codes.vec_id AS corpus_id, sum(dt.d) AS adc
      FROM codes
      JOIN embeddings c ON codes.vec_id = c.vec_id
      JOIN probes ON c.label = probes.label
      JOIN dt ON dt.query_id = probes.query_id
             AND dt.s = codes.s AND dt.code = codes.code
      WHERE codes.vec_id <> dt.query_id
      GROUP BY 1, 2
    )
    SELECT query_id, CAST(rank AS INT) AS rank, corpus_id,
           CAST(adc AS BIGINT) AS adc_dist
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY adc, corpus_id) AS rank
          FROM scored) t
    WHERE rank <= 5 ORDER BY query_id, rank
"""


def _ivfpq_probe_prebuilt(spark, sf_dir):
    """The persisted-index serving path: ``ivfpq_build_index`` writes
    centroids/codebook/cell-partitioned codes to parquet, then
    ``ivfpq_probe_index`` answers the query batch from the LOADED index —
    no retraining, and the probed-cell filter prunes index partitions at
    the file source. Every index artifact is deterministic integer/mean
    arithmetic, so probe-after-load is bit-equal to the fresh build and
    the same composed DuckDB oracle hash-checks it (the mirror of
    dedup_incremental_vs_index for the similarity surface)."""
    from ..operators.quantization import ivfpq_build_index, ivfpq_probe_index
    from ..scratch import run_dir

    e = read_table(spark, sf_dir, "embeddings")
    index_dir = run_dir("ivfpq_index")
    ivfpq_build_index(e, index_dir, dim=64, cb_k=32)
    q = e.filter(F.col("vec_id") % 50 == 0)
    return ivfpq_probe_index(q, index_dir, dim=64, k_top=5, n_probe=3).orderBy(
        "query_id", "rank"
    )


register(
    "similarity_ivfpq_probe_prebuilt",
    _ivfpq_probe_prebuilt,
    _IVFPQ_PROBE_SQL.format(core=_PQ_CORE_SQL),
)


# --- IVF-PQ composite index -------------------------------------------------
def _ivfpq_topk(spark, sf_dir):
    """Two-level ANN: coarse label-centroid probe (n_probe=3) gates the
    candidate set, PQ ADC ranks inside probed cells — the FAISS-style
    IVF_PQ layout from two already-oracle-verified parts. Deterministic
    end to end, so the composed oracle hash-checks probes AND ranking."""
    from ..operators.quantization import ivfpq_topk

    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    return ivfpq_topk(e, q, dim=64, cb_k=32, k_top=5, n_probe=3).orderBy(
        "query_id", "rank"
    )


register(
    "similarity_ivfpq_topk",
    _ivfpq_topk,
    # same composed probe+ADC replay as the prebuilt-index twin: fresh build
    # and loaded index are bit-equal by construction, so they share one oracle
    _IVFPQ_PROBE_SQL.format(core=_PQ_CORE_SQL),
)


# --- shared integer-quantized coarse-quantizer CTEs --------------------------
# Seed-centroid (16 lowest ids) + two unrolled Lloyd rounds + per-node cell
# ranking, all in integer L2 — the SQL replay of graph_ann.
# build_coarse_quantizer / assign_coarse_cells, shared by the NSW build
# oracles and the production-IVF oracle (similarity_ivf_kmeans_topk).
_QUANT_CTES = """
    ex AS (
      SELECT vec_id, u.pos - 1 AS pos,
             CAST(round(CAST(u.val AS DOUBLE) * 1000) AS BIGINT) AS iv
      FROM embeddings,
           LATERAL (SELECT unnest(CAST(embedding AS DOUBLE[])) AS val,
                           generate_subscripts(embedding, 1) AS pos) u
    ),
    sub AS (SELECT vec_id AS node, pos AS j, iv FROM ex),
    cbids AS (
      SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16
    ), cb0 AS (
      SELECT s.node AS code, s.j, s.iv AS cv
      FROM sub s JOIN cbids ON s.node = cbids.vec_id
    ),
    ad0 AS (
      SELECT sub.node, c.code, sum((sub.iv - c.cv) * (sub.iv - c.cv)) AS d
      FROM sub JOIN cb0 c ON c.j = sub.j GROUP BY 1, 2
    ), asg0 AS (
      SELECT node, code FROM (
        SELECT *, row_number() OVER (PARTITION BY node ORDER BY d, code) AS r
        FROM ad0) t WHERE r = 1
    ), mn0 AS (
      SELECT a.code, s.j, CAST(round(avg(s.iv)) AS BIGINT) AS nv
      FROM asg0 a JOIN sub s ON s.node = a.node GROUP BY 1, 2
    ), cb1 AS (
      SELECT c.code, c.j, coalesce(m.nv, c.cv) AS cv
      FROM cb0 c LEFT JOIN mn0 m ON m.code = c.code AND m.j = c.j
    ),
    ad1 AS (
      SELECT sub.node, c.code, sum((sub.iv - c.cv) * (sub.iv - c.cv)) AS d
      FROM sub JOIN cb1 c ON c.j = sub.j GROUP BY 1, 2
    ), asg1 AS (
      SELECT node, code FROM (
        SELECT *, row_number() OVER (PARTITION BY node ORDER BY d, code) AS r
        FROM ad1) t WHERE r = 1
    ), mn1 AS (
      SELECT a.code, s.j, CAST(round(avg(s.iv)) AS BIGINT) AS nv
      FROM asg1 a JOIN sub s ON s.node = a.node GROUP BY 1, 2
    ), cb2 AS (
      SELECT c.code, c.j, coalesce(m.nv, c.cv) AS cv
      FROM cb1 c LEFT JOIN mn1 m ON m.code = c.code AND m.j = c.j
    ),
    celld AS (
      SELECT sub.node AS query_id, cb2.code,
             sum((sub.iv - cb2.cv) * (sub.iv - cb2.cv)) AS d
      FROM sub JOIN cb2 ON cb2.j = sub.j
      GROUP BY 1, 2
    ), cellr AS (
      SELECT query_id, code,
             row_number() OVER (PARTITION BY query_id ORDER BY d, code) AS r
      FROM celld
    )"""


# --- graph ANN: k-NN graph + fixed-hop beam search (NSW-style) ---------------
def _nsw_ctes(
    beam_width: int = 12,
    k_build: int = 8,
    n_probe: int = 2,
    n_entry: int = 4,
    entry_mod: int | None = None,
    include_quant: bool = True,
    hops: int = 4,
) -> str:
    """The build+search CTE chain of :func:`_nsw_sql` WITHOUT the leading
    ``WITH`` or the final SELECT — ends at ``beam{hops}``. Factored out so
    a composite oracle (the redecide query's day-2 arm) can splice the
    whole NSW replay as CTEs and project from ``beam{hops}`` itself."""
    score = (
        "SELECT c.query_id, c.node,"
        " sum((s.iv - q.qv) * (s.iv - q.qv)) AS dist"
        " FROM {cand} c JOIN sub s ON s.node = c.node"
        " JOIN qsub q ON q.query_id = c.query_id AND q.j = s.j"
        " GROUP BY 1, 2"
    )
    beam = (
        "SELECT query_id, node, dist FROM ("
        "SELECT *, row_number() OVER (PARTITION BY query_id"
        f" ORDER BY dist, node) AS r FROM {{scored}}) t WHERE r <= {beam_width}"
    )
    if entry_mod is None:
        entries_sql = (
            f"SELECT vec_id AS node FROM embeddings ORDER BY vec_id LIMIT {n_entry}"
        )
        beam0_sql = beam.format(scored="beam0s")
    else:
        # md5-uniform sample (exactly nsw_search's sampled-entry filter),
        # per-query top-n_entry seeds from the scored sample
        entries_sql = (
            "SELECT vec_id AS node FROM embeddings WHERE "
            "CAST(concat('0x', substring(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)"
            f" % {entry_mod} = 0"
        )
        beam0_sql = (
            "SELECT query_id, node, dist FROM ("
            "SELECT *, row_number() OVER (PARTITION BY query_id"
            f" ORDER BY dist, node) AS r FROM beam0s) t WHERE r <= {n_entry}"
        )
    quant = f"{_QUANT_CTES}, " if include_quant else ""
    parts = [f"""{quant}cells AS (
      SELECT query_id AS cand, code AS cell FROM cellr WHERE r = 1
    ), bprobes AS (
      SELECT query_id AS src, code AS cell FROM cellr WHERE r <= {n_probe}
    ), cand AS (
      SELECT b.src, c.cand
      FROM bprobes b JOIN cells c ON c.cell = b.cell
      WHERE c.cand <> b.src
    ), bdist AS (
      SELECT cand.src, cand.cand, sum((a.iv - b.iv) * (a.iv - b.iv)) AS dist
      FROM cand
      JOIN sub a ON a.node = cand.src
      JOIN sub b ON b.node = cand.cand AND b.j = a.j
      GROUP BY 1, 2
    ), edges0 AS (
      SELECT src, cand AS dst, dist FROM (
        SELECT *, row_number() OVER (PARTITION BY src ORDER BY dist, cand) AS r
        FROM bdist) t WHERE r <= {k_build}
    ), edges AS (
      SELECT src, dst, min(dist) AS dist FROM (
        SELECT src, dst, dist FROM edges0
        UNION ALL SELECT dst, src, dist FROM edges0) t GROUP BY 1, 2
    ), qs AS (
      SELECT vec_id AS query_id FROM embeddings WHERE vec_id % 50 = 0
    ), qsub AS (
      SELECT vec_id AS query_id, pos AS j, iv AS qv FROM ex WHERE vec_id % 50 = 0
    ), entries AS (
      {entries_sql}
    ), beam0c AS (
      SELECT q.query_id, e.node FROM qs q CROSS JOIN entries e
      WHERE e.node <> q.query_id
    ), beam0s AS ({score.format(cand='beam0c')}
    ), beam0 AS ({beam0_sql}
    )"""]
    for h in range(1, hops + 1):
        prev = f"beam{h - 1}"
        parts.append(f""", hop{h}c AS (
      SELECT query_id, node FROM {prev}
      UNION
      SELECT b.query_id, e.dst AS node
      FROM {prev} b JOIN edges e ON e.src = b.node
      WHERE e.dst <> b.query_id
    ), hop{h}s AS ({score.format(cand=f'hop{h}c')}
    ), beam{h} AS ({beam.format(scored=f'hop{h}s')}
    )""")
    return "".join(parts)


def _nsw_sql(
    beam_width: int = 12,
    k_build: int = 8,
    n_probe: int = 2,
    n_entry: int = 4,
    entry_mod: int | None = None,
    prefix_ctes: str = "",
    extra_cols: str = "",
    drop_dist: bool = False,
    include_quant: bool = True,
) -> str:
    """Unrolled beam-search oracle: build the IVF-bounded k-NN graph, then
    chain one (candidates -> score -> beam) CTE triple per hop (the chain
    itself lives in :func:`_nsw_ctes`). Integer distances end to end, so
    the replay is bit-exact. ``entry_mod`` set replays the coarse-to-fine
    sampled-entry mode (md5-uniform node sample, per-query top-``n_entry``
    seeds) the scale config uses. ``prefix_ctes`` splices caller CTEs
    (d-prefixed names to avoid collisions) ahead of the build;
    ``extra_cols``/``drop_dist`` reshape the final projection (the
    dispatch query's metric-neutral output)."""
    hops = 4
    dist_col = "" if drop_dist else ",\n           CAST(dist AS BIGINT) AS l2_dist"
    final = f"""
    SELECT query_id, CAST(rank AS INT) AS rank, corpus_id{dist_col}{extra_cols}
    FROM (SELECT query_id, node AS corpus_id, dist,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY dist, node) AS rank
          FROM beam{hops}) t
    WHERE rank <= 5 ORDER BY query_id, rank
    """
    return (
        "WITH "
        + prefix_ctes
        + _nsw_ctes(
            beam_width, k_build, n_probe, n_entry, entry_mod, include_quant, hops
        )
        + final
    )


def _nsw_topk(spark, sf_dir):
    """NSW-style graph ANN (operators/graph_ann.py): coarse-cell-bounded
    k-NN graph (16 seed-centroid cells, k_build=8, n_probe=2), then 4-hop
    beam-12 search from the 4 lowest-id entry points (recall@5 = 0.8 vs
    exact integer-L2 at sf0.001, pytest-asserted >= 0.5). Integer L2 end to end — the unrolled SQL oracle replays
    build AND search bit-exactly. Completes the ANN family matrix
    (IVF / PQ / IVF-PQ / LSH / graph)."""
    from ..operators.graph_ann import knn_graph, nsw_search

    e = read_table(spark, sf_dir, "embeddings")
    g = knn_graph(e, dim=64, k_build=8, n_probe=2, n_cells=16)
    q = e.filter(F.col("vec_id") % 50 == 0)
    return nsw_search(
        g, e, q, dim=64, beam_width=12, n_hops=4, k_top=5, n_entry=4
    ).orderBy("query_id", "rank")


register("similarity_nsw_topk", _nsw_topk, _nsw_sql())


def _nsw_probe_prebuilt(spark, sf_dir):
    """The admit-once serving path for the graph-ANN family: the k-NN
    graph is WRITTEN to parquet and the beam search answers from the
    LOADED edges — the artifact a serving pipeline builds once per corpus
    version and probes per query batch, never paying the build again
    (mirror of similarity_ivfpq_probe_prebuilt / the gram-index twins; at
    sf3 the build dominates the 78 s per-call cost of the fresh-build
    query). The graph is deterministic (integer-L2, id tie-breaks), so
    probe-after-load is bit-equal to the fresh build and the SAME
    unrolled SQL oracle hash-checks it."""
    from ..operators.graph_ann import knn_graph, nsw_search

    from ..scratch import scratch_dir

    e = read_table(spark, sf_dir, "embeddings")
    # pid-suffixed sf-keyed scratch (scratch.py): the uuid form leaked a
    # graph copy per invocation (fixed r13); the fixed sf-keyed form raced
    # across concurrent runs on the same sf (r13 ADVICE)
    gdir = scratch_dir(f"nsw_graph_{sf_dir.rstrip('/').rsplit('/', 1)[-1]}")
    knn_graph(e, dim=64, k_build=8, n_probe=2, n_cells=16).write.mode(
        "overwrite"
    ).parquet(gdir)
    g = spark.read.parquet(gdir)
    q = e.filter(F.col("vec_id") % 50 == 0)
    return nsw_search(
        g, e, q, dim=64, beam_width=12, n_hops=4, k_top=5, n_entry=4
    ).orderBy("query_id", "rank")


register("similarity_nsw_probe_prebuilt", _nsw_probe_prebuilt, _nsw_sql())


def _nsw_scale_topk(spark, sf_dir):
    """The graph-ANN SCALE configuration (r10 verdict item 8 follow-up):
    denser build (k_build=16, n_probe=3) + coarse-to-fine sampled entries
    (md5-uniform node sample, per-query top-16 seeds) + beam 16. The
    default config's fixed 4 lowest-id entries are reachability-limited on
    the local-edge k-NN graph — measured recall@5 at sf1 is 0.25 at beam
    16 — while this configuration reaches 0.973 at sf1, 11x faster than
    exact brute force, 0.98 at sf0.001/sf0.01 (BASELINE.md round-11 table,
    pytest-bounded >= 0.9). Deterministic end to end (integer L2, md5
    sample, id tie-breaks), so the same unrolled oracle replays build,
    sampled seeding, AND search bit-exactly."""
    from ..operators.graph_ann import knn_graph, nsw_search

    e = read_table(spark, sf_dir, "embeddings")
    g = knn_graph(e, dim=64, k_build=16, n_probe=3, n_cells=16)
    q = e.filter(F.col("vec_id") % 50 == 0)
    return nsw_search(
        g, e, q, dim=64, beam_width=16, n_hops=4, k_top=5, n_entry=16,
        entry_sample_mod=5,
    ).orderBy("query_id", "rank")


register(
    "similarity_nsw_scale_topk",
    _nsw_scale_topk,
    _nsw_sql(beam_width=16, k_build=16, n_probe=3, n_entry=16, entry_mod=5),
)


# --- production IVF: Lloyd-refined quantizer cells ---------------------------
def _ivf_kmeans(spark, sf_dir):
    """operators/similarity.ivf_kmeans_topk: IVF whose cells come from the
    Lloyd-refined coarse quantizer (graph_ann.build_coarse_quantizer, the
    same build the NSW graph uses) instead of an existing partition
    column — the production shape ivf_topk's docstring promised. Integer
    L2 end to end, so the unrolled oracle replays seed + 2 Lloyd rounds +
    assignment + probing + scoring bit-exactly."""
    from ..operators.similarity import ivf_kmeans_topk

    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    return ivf_kmeans_topk(
        e, q, dim=64, k=5, n_probe=2, n_cells=16
    ).orderBy("query_id", "rank")


register(
    "similarity_ivf_kmeans_topk",
    _ivf_kmeans,
    "WITH "
    + _QUANT_CTES
    + """, kcells AS (
      SELECT query_id AS cand, code AS cell FROM cellr WHERE r = 1
    ), qprobes AS (
      SELECT query_id, code AS cell FROM cellr
      WHERE r <= 2 AND query_id % 50 = 0
    ), candp AS (
      SELECT q.query_id, c.cand FROM qprobes q JOIN kcells c ON c.cell = q.cell
      WHERE c.cand <> q.query_id
    ), kscored AS (
      SELECT cp.query_id, cp.cand AS corpus_id,
             sum((a.iv - b.iv) * (a.iv - b.iv)) AS dist
      FROM candp cp
      JOIN sub a ON a.node = cp.query_id
      JOIN sub b ON b.node = cp.cand AND b.j = a.j
      GROUP BY 1, 2
    )
    SELECT query_id, CAST(rank AS INT) AS rank, corpus_id,
           CAST(dist AS BIGINT) AS l2_dist
    FROM (SELECT query_id, corpus_id, dist,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY dist, corpus_id) AS rank
          FROM kscored) t
    WHERE rank <= 5 ORDER BY query_id, rank
    """,
)


# --- IVF vs graph-ANN priced dispatch (r12 verdict item 4) -------------------
def _ann_auto_dispatch(spark, sf_dir):
    """operators/similarity.ann_topk_auto: the capped-sample IVF
    self-recall probe derives n_probe; if 2*n_probe <= n_cells IVF still
    prunes and serves the batch, otherwise (the driver corpus: the probe
    widens to ALL 10 cells — IVF degenerated to exact search) the NSW
    graph path serves it with the proven scale config
    (similarity_nsw_scale_topk's parameters, pinned here so the oracle
    replays the branch). The decision inputs ride along as columns, so a
    data-driven branch flip is a loud hash mismatch, never a silent plan
    change."""
    from ..operators.similarity import ann_topk_auto

    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    return ann_topk_auto(
        e, q, k=5, target_recall=0.95, target_queries=50, dim=64,
        nsw_params=dict(
            k_build=16, n_probe=3, n_cells=16, beam_width=16, n_entry=16,
            entry_sample_mod=5, n_hops=4,
        ),
    ).orderBy("query_id", "rank")


def _decision_ctes(src: str = "embeddings", pfx: str = "d", target: int = 50) -> str:
    """The dispatch DECISION replay as a CTE block — capped-sample
    self-recall curve -> n_probe, plus the distinct-cell count — exactly
    operators/similarity.ann_dispatch_decision's machinery. Parameterized
    by source table and CTE-name prefix so a staged oracle can replay the
    decision on MULTIPLE snapshots side by side (the redecide query runs
    it on day-1 and day-2 corpora with distinct prefixes)."""
    return f"""
    {pfx}ex AS (
      SELECT label, u.pos - 1 AS pos, u.val
      FROM {src},
           LATERAL (SELECT unnest(CAST(embedding AS DOUBLE[])) AS val,
                           generate_subscripts(embedding, 1) AS pos) u
    ), {pfx}per AS (
      SELECT label, pos, avg(val) AS avg_val FROM {pfx}ex GROUP BY label, pos
    ), {pfx}cent AS (
      SELECT label, array_agg(avg_val ORDER BY pos) AS centroid FROM {pfx}per GROUP BY label
    ), {pfx}smod AS (
      SELECT CAST(ceil(count(*) / {target}.0) AS BIGINT) AS m FROM {src}
    ), {pfx}samp AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM {src}
      WHERE CAST(concat('0x', substring(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
            % (SELECT m FROM {pfx}smod) = 0
    ), {pfx}truth AS (
      SELECT query_id, corpus_id FROM (
        SELECT s.query_id, c.vec_id AS corpus_id,
               row_number() OVER (PARTITION BY s.query_id ORDER BY
                 {_COS_Q_CENT.format(q="s.qv", c="CAST(c.embedding AS DOUBLE[])")} DESC,
                 c.vec_id ASC) AS rank
        FROM {pfx}samp s JOIN {src} c ON c.vec_id <> s.query_id
      ) t WHERE rank <= 5
    ), {pfx}cellr AS (
      SELECT query_id, label,
             row_number() OVER (PARTITION BY query_id ORDER BY
               {_COS_Q_CENT.format(q="qv", c="centroid")} DESC, label ASC) AS cell_rank
      FROM {pfx}samp CROSS JOIN {pfx}cent
    ), {pfx}curve AS (
      SELECT cr.cell_rank, count(*) AS pairs
      FROM {pfx}truth t
      JOIN {src} n2 ON n2.vec_id = t.corpus_id
      JOIN {pfx}cellr cr ON cr.query_id = t.query_id AND cr.label = n2.label
      GROUP BY cr.cell_rank
    ), {pfx}pick AS (
      SELECT coalesce(
        (SELECT min(cell_rank) FROM (
           SELECT cell_rank,
                  sum(pairs) OVER (ORDER BY cell_rank) * 1.0 /
                  (SELECT sum(pairs) FROM {pfx}curve) AS cum_recall
           FROM {pfx}curve) c WHERE cum_recall >= 0.95),
        (SELECT count(*) FROM {pfx}cent)) AS n_probe
    ), {pfx}cells AS (
      SELECT count(*) AS n_cells FROM {pfx}cent
    ),"""


def _decision_cols(pfx: str = "d") -> str:
    """Decision-record output columns replayed from a :func:`_decision_ctes`
    block: branch rule (IVF iff it still prunes half the corpus), derived
    n_probe, cell count."""
    return f""",
           CASE WHEN 2 * (SELECT n_probe FROM {pfx}pick) <= (SELECT n_cells FROM {pfx}cells)
                THEN 'ivf' ELSE 'nsw' END AS branch_used,
           CAST((SELECT n_probe FROM {pfx}pick) AS INT) AS n_probe_used,
           CAST((SELECT n_cells FROM {pfx}cells) AS INT) AS n_cells_used"""


_DISPATCH_CTES = _decision_ctes()

_DISPATCH_COLS = _decision_cols()

# The oracle replays the decision (same capped-sample recall curve as
# similarity_ivf_auto_topk, d-prefixed CTEs) AND the branch it selects on
# this corpus — the NSW scale config. If the data ever flipped the decision
# to IVF, the SQL would still emit NSW rows but label them 'ivf', and the
# Spark side would emit IVF rows: a guaranteed hash mismatch, by design.
register(
    "similarity_ann_auto_dispatch",
    _ann_auto_dispatch,
    _nsw_sql(
        beam_width=16, k_build=16, n_probe=3, n_entry=16, entry_mod=5,
        prefix_ctes=_DISPATCH_CTES, extra_cols=_DISPATCH_COLS, drop_dist=True,
    ),
)


def _ann_dispatch_labelfree(spark, sf_dir):
    """operators/similarity.ann_topk_auto_quantized: the dispatch with NO
    partition column — cells are the Lloyd-quantizer assignment, and the
    same decision machinery runs over them (here: n_probe widens to 13 of
    16 quantizer cells on the driver corpus -> graph branch). The oracle
    replays quantizer build + assignment (shared _QUANT_CTES), rebinds
    the decision CTEs onto the derived cells (qemb), and then replays the
    chosen NSW branch — fully label-free end to end."""
    from ..operators.similarity import ann_topk_auto_quantized

    e = read_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 0)
    return ann_topk_auto_quantized(
        e, q, k=5, target_recall=0.95, target_queries=50, dim=64, n_cells=16,
        nsw_params=dict(
            k_build=16, n_probe=3, n_cells=16, beam_width=16, n_entry=16,
            entry_sample_mod=5, n_hops=4,
        ),
    ).orderBy("query_id", "rank")


# decision CTEs rebound onto the quantizer-cell view: qasg = nearest cell
# per vector (from the shared quantizer CTEs), qemb = embeddings with the
# derived cell as `label`, then the SAME d-prefixed decision block with its
# table references rewritten qemb-ward. The NSW build CTEs follow with
# include_quant=False (the quantizer block already leads the prefix — CTE
# names must be unique and earlier-defined in DuckDB).
#
# The rewrite is a substring replace, so pin the occurrence count: if an
# edit to _DISPATCH_CTES ever adds the token somewhere that must KEEP
# referring to the base table (a comment, a literal), this assert fails
# loudly instead of silently corrupting only the labelfree twin.
assert _DISPATCH_CTES.count("embeddings") == 5, _DISPATCH_CTES.count("embeddings")
_LABELFREE_CTES = (
    _QUANT_CTES
    + """, qasg AS (
      SELECT query_id AS vec_id, code AS qcell FROM cellr WHERE r = 1
    ), qemb AS (
      SELECT e.vec_id, e.embedding, q.qcell AS label
      FROM embeddings e JOIN qasg q USING (vec_id)
    ), """
    + _DISPATCH_CTES.replace("embeddings", "qemb").lstrip()
)

register(
    "similarity_ann_dispatch_labelfree",
    _ann_dispatch_labelfree,
    _nsw_sql(
        beam_width=16, k_build=16, n_probe=3, n_entry=16, entry_mod=5,
        prefix_ctes=_LABELFREE_CTES, extra_cols=_DISPATCH_COLS,
        drop_dist=True, include_quant=False,
    ),
)


def _ann_dispatch_prebuilt(spark, sf_dir):
    """The dispatch's build-once serving shape (mirror of
    similarity_nsw_probe_prebuilt / ivfpq_probe_prebuilt): the decision
    probe runs ONCE, its verdict is persisted as a one-row parquet
    manifest NEXT TO the index it selected (here the NSW edge list), and
    the query batch is answered entirely from the LOADED artifacts — the
    probe never re-runs per batch, which is the point of the dispatch at
    serving time. Everything is deterministic, so probe-after-load is
    bit-equal to the fresh dispatch and the SAME oracle hash-checks it."""
    from ..operators.graph_ann import knn_graph, nsw_search
    from ..operators.similarity import ann_dispatch_decision

    from ..scratch import scratch_dir

    e = read_table(spark, sf_dir, "embeddings")
    # pid-suffixed sf-keyed scratch (scratch.py): no accumulation within a
    # process, no cross-process overwrite race (r13 ADVICE)
    base = scratch_dir(f"ann_dispatch_{sf_dir.rstrip('/').rsplit('/', 1)[-1]}")

    # build phase: decide once, persist decision + the chosen index
    n_probe, n_cells, branch = ann_dispatch_decision(e, target_queries=50)
    # single-slice parallelize: one task, one file for the one-row artifact
    # (see persist_dispatch_decision — coalesce(1) here costs ~5 s flat)
    spark.createDataFrame(
        spark.sparkContext.parallelize([(branch, n_probe, n_cells)], 1),
        "branch string, n_probe int, n_cells int",
    ).write.mode("overwrite").parquet(f"{base}/decision")
    if branch == "nsw":
        knn_graph(e, dim=64, k_build=16, n_probe=3, n_cells=16).write.mode(
            "overwrite"
        ).parquet(f"{base}/index")

    # serve phase: answer the batch from the loaded artifacts only
    dec = spark.read.parquet(f"{base}/decision").first()
    q = e.filter(F.col("vec_id") % 50 == 0)
    if dec["branch"] == "nsw":
        g = spark.read.parquet(f"{base}/index")
        out = nsw_search(
            g, e, q, dim=64, beam_width=16, n_hops=4, k_top=5, n_entry=16,
            entry_sample_mod=5,
        ).select("query_id", "rank", "corpus_id")
    else:  # pragma: no cover — not taken on the driver corpus
        out = ivf_topk(e, q, k=5, n_probe=int(dec["n_probe"])).select(
            "query_id", "rank", "corpus_id"
        )
    return (
        out.withColumn("branch_used", F.lit(dec["branch"]))
        .withColumn("n_probe_used", F.lit(int(dec["n_probe"])))
        .withColumn("n_cells_used", F.lit(int(dec["n_cells"])))
        .orderBy("query_id", "rank")
    )


register(
    "similarity_ann_dispatch_prebuilt",
    _ann_dispatch_prebuilt,
    _nsw_sql(
        beam_width=16, k_build=16, n_probe=3, n_entry=16, entry_mod=5,
        prefix_ctes=_DISPATCH_CTES, extra_cols=_DISPATCH_COLS, drop_dist=True,
    ),
)


# --- dispatch staleness: re-decide on drift (r13 verdict item 1) -------------
_REDECIDE_NSW = dict(
    k_build=16, n_probe=3, n_cells=16, beam_width=16, n_entry=16,
    entry_sample_mod=5, n_hops=4,
)


# --- staged-corpus spine, shared by the redecide + recall-drift drills ------
#: subsample the embeddings id spine by _SPINE_MOD once the table reaches
#: _SPINE_THRESHOLD rows (count-derived, so the DuckDB oracles replay the
#: same modulus from their own count — the check_new moduli discipline).
#: ONE definition for all four consumers (two Python stagings, two oracle
#: CTE blocks): a threshold/modulus tweak that missed one site would be a
#: silent Spark-vs-oracle divergence at sf>=1 only.
_SPINE_THRESHOLD = 10000
_SPINE_MOD = 3


def _staged_spine(spark, sf_dir):
    """The staged drills' id spine: embeddings vec_ids, subsampled by the
    count-derived modulus and RENUMBERED densely (``vec_id // m``) because
    the NSW coarse quantizer pins the 16 lowest ids to exactly 0..15 —
    with m=1 (every sf<=0.1) the renumber is the identity."""
    ids = read_table(spark, sf_dir, "embeddings").select("vec_id")
    m = _SPINE_MOD if ids.count() >= _SPINE_THRESHOLD else 1
    return ids.filter(F.col("vec_id") % m == 0).select(
        (F.col("vec_id") / F.lit(m)).cast("long").alias("vec_id")
    )


def _spine_ctes(mod_name: str, spine_name: str) -> str:
    """The SQL replay of :func:`_staged_spine` — two CTEs, names
    parameterized so both staged oracles share one definition."""
    return f"""{mod_name} AS (
      -- count-derived spine modulus: the staged corpus subsamples
      -- {_SPINE_MOD}x once embeddings reaches {_SPINE_THRESHOLD} rows, so
      -- the oracle-pinned toy NSW config stays proportionate at scale
      SELECT CASE WHEN count(*) >= {_SPINE_THRESHOLD} THEN {_SPINE_MOD} ELSE 1 END AS m FROM embeddings
    ), {spine_name} AS (
      -- renumbered densely (the NSW coarse quantizer pins ids 0..15);
      -- identity when m = 1
      SELECT vec_id // (SELECT m FROM {mod_name}) AS vec_id
      FROM embeddings WHERE vec_id % (SELECT m FROM {mod_name}) = 0
    )"""


def _staged_byte(prefix, j):
    """md5-derived uniform byte/256 for the staged corpora — Spark side.
    ``prefix`` namespaces the snapshot ('s1:', 's2:', 'c1:', 'c2:')."""
    return (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(prefix),
                        F.col("vec_id").cast("string"),
                        F.lit(":"),
                        j.cast("string"),
                    )
                ),
                1,
                2,
            ),
            16,
            10,
        ).cast("int")
        / F.lit(256.0)
    )


def _staged_byte_sql(pfx: str) -> str:
    """The DuckDB replay of :func:`_staged_byte` (hex-literal cast route —
    both engines parse the two md5 hex chars identically)."""
    return (
        f"CAST(concat('0x', substring(md5(concat('{pfx}', "
        "CAST(vec_id AS VARCHAR), ':', CAST(i AS VARCHAR))), 1, 2)) "
        "AS INT) / 256.0"
    )


def _staged_redecide_snapshots(spark, sf_dir):
    """Two-day staged drift on the embeddings id spine, fully md5-derived
    (the streaming-ANN staging discipline, so the oracle rebuilds both
    corpora bit-exactly): day 1 is STRONGLY clustered — 8 axis-spike
    cells, vector[j] = 4.0*(j == vec_id%8) + md5byte('s1:id:j')/256 — and
    the day-2 admissions (ids +1,000,000, every even spine id, so the
    snapshot grows exactly 1.5x) are uniform md5 noise with round-robin
    labels: the admitted corpus DE-CLUSTERS, which is precisely the drift
    the staleness trigger exists to catch.

    Spine modulus (r14 verdict item 2): at sf1 the day-2 NSW build on the
    30k admitted snapshot at the ORACLE-PINNED toy config (n_cells=16) was
    131 s of the 417 s anchor — oracle-STAGING cost, not contract cost. The
    spine is therefore subsampled 3x once the embeddings table reaches 10k
    rows (count-derived, so the DuckDB oracle replays the same modulus from
    its own count — the check_new moduli discipline); below 10k the
    modulus is 1 and every committed hash at sf<=0.1 is byte-identical to
    the r14 record. The subsampled spine is RENUMBERED densely
    (``vec_id // m``) because the NSW coarse quantizer pins the 16 lowest
    ids to exactly 0..15 — with m=1 the renumber is the identity. The
    contract exercised is unchanged: same trigger arithmetic, same flip,
    same toy config — only the staged corpus is proportionate to what the
    pinned config was designed for."""
    ids = _staged_spine(spark, sf_dir)
    byte = _staged_byte
    dims = F.sequence(F.lit(0), F.lit(63))
    snap1 = ids.select(
        "vec_id",
        (F.col("vec_id") % 8).cast("int").alias("label"),
        F.transform(
            dims,
            lambda i: F.when(i == F.col("vec_id") % 8, F.lit(4.0))
            .otherwise(F.lit(0.0))
            + byte("s1:", i),
        ).alias("embedding"),
    )
    # admitted ids are RENUMBERED densely (orig/2 + 1e6) so their %8
    # labels cover all eight cells — keeping the raw even spine ids would
    # land every admission on the four even labels, skewing the centroid
    # mix instead of uniformly de-clustering it
    batch = (
        ids.filter(F.col("vec_id") % 2 == 0)
        .select(
            ((F.col("vec_id") / F.lit(2)).cast("long") + F.lit(1_000_000)).alias(
                "vec_id"
            )
        )
        .select(
            "vec_id",
            (F.col("vec_id") % 8).cast("int").alias("label"),
            F.transform(dims, lambda i: byte("s2:", i)).alias("embedding"),
        )
    )
    return snap1, batch


def _redecide_serve(corpus, queries, dec):
    """Serve a query batch from a LOADED decision row — the branch is
    whatever the persisted verdict says, never re-derived at serve time."""
    from ..operators.graph_ann import knn_graph, nsw_search

    if dec["branch"] == "ivf":
        return ivf_topk(
            corpus, queries, k=5, n_probe=int(dec["n_probe"])
        ).select("query_id", "rank", "corpus_id")
    p = _REDECIDE_NSW
    g = knn_graph(
        corpus, dim=64, k_build=p["k_build"], n_probe=p["n_probe"],
        n_cells=p["n_cells"],
    )
    return nsw_search(
        g, corpus, queries, dim=64, beam_width=p["beam_width"],
        n_hops=p["n_hops"], k_top=5, n_entry=p["n_entry"],
        entry_sample_mod=p["entry_sample_mod"],
    ).select("query_id", "rank", "corpus_id")


def _served_day(served, dec, day, *extra):
    """Day ``day``'s served rows (batch ``day - 1``) with the audit columns
    of the decision row ``dec`` they were served from, then ``extra``."""
    return served.select(
        F.lit(day).cast("int").alias("day"),
        "query_id", "rank", "corpus_id",
        F.lit(dec["branch"]).alias("branch_used"),
        F.lit(int(dec["n_probe"])).cast("int").alias("n_probe_used"),
        F.lit(int(dec["n_cells"])).cast("int").alias("n_cells_used"),
        F.lit(int(dec["version"])).cast("int").alias("decision_version"),
        F.lit(day - 1 - int(dec["decided_at_batch"])).cast("int").alias(
            "decision_age_batches"
        ),
        *extra,
    )


def _ann_dispatch_redecide(spark, sf_dir):
    """The prebuilt dispatch's STALENESS contract (r13 verdict item 1):
    the persisted decision is re-priced against the admitted snapshot when
    the staleness trigger fires (here the 1.5x growth rule —
    operators/similarity.ann_dispatch_should_redecide), the new verdict is
    persisted BESIDE the old (decision/v1, decision/v2 — an audit trail,
    not an overwrite), and every served batch carries
    ``decision_version`` + ``decision_age_batches``. On the staged drift
    the decision FLIPS: day 1's axis-spike corpus prices n_probe=1 ->
    IVF; after the de-clustering admissions the re-probe widens past
    n_cells/2 -> NSW. The oracle replays BOTH decisions
    (:func:`_decision_ctes` on each staged snapshot), the trigger rule,
    the version/age arithmetic, and the branch each day actually serves
    (IVF probe replay on day 1, the unrolled NSW build+search on day 2) —
    a trigger or flip divergence is a hash mismatch, never a silent
    serving-quality collapse.

    Jobs run under :func:`session.phase` tags ``staging``, ``day1`` and
    ``day2``; the lazy tail of each day's serve runs in the caller's action."""
    from ..operators.similarity import (
        ann_dispatch_decision,
        ann_dispatch_should_redecide,
        load_latest_dispatch_decision,
        persist_dispatch_decision,
    )
    from ..scratch import scratch_dir
    from ..session import phase

    with phase(spark, "staging"):
        snap1, batch = _staged_redecide_snapshots(spark, sf_dir)
        # pin both snapshots: the decision machinery runs many actions
        # (count, recall-curve brute force, distinct cells) over each
        snap1 = snap1.localCheckpoint(eager=False)
        n1 = snap1.count()
    base = scratch_dir(f"ann_redecide_{sf_dir.rstrip('/').rsplit('/', 1)[-1]}")
    # the staged scenario STARTS at version 1: wipe any decision versions a
    # prior same-process invocation left in the pid-keyed scratch (bench
    # runs this query 4x per process — without the wipe, run 2 would load
    # run 1's v2 as "day 1's" decision and serve the wrong branch)
    import shutil as _shutil

    _shutil.rmtree(f"{base}/decision", ignore_errors=True)

    # day 1 (batch 0): price the dispatch, persist v1, serve from it
    # (n1 already counted above — the decision re-uses it, r16 guide §5)
    with phase(spark, "day1"):
        p1, c1, b1 = ann_dispatch_decision(snap1, target_queries=50, n=n1)
        persist_dispatch_decision(
            spark, base, 1, b1, p1, c1, decided_at_batch=0, n_at_decision=n1
        )
        dec1 = load_latest_dispatch_decision(spark, base)
        day1 = _served_day(
            _redecide_serve(snap1, snap1.filter(F.col("vec_id") % 50 == 0), dec1), dec1, 1
        )

    # day 2 (batch 1): admit the drift batch; the growth trigger fires and
    # the re-probe runs against the ADMITTED snapshot
    with phase(spark, "day2"):
        snap2 = snap1.unionByName(batch).localCheckpoint(eager=False)
        n2 = snap2.count()
        if ann_dispatch_should_redecide(
            n2, int(dec1["n_at_decision"]), 1 - int(dec1["decided_at_batch"])
        ):
            p2, c2, b2 = ann_dispatch_decision(snap2, target_queries=50, n=n2)
            persist_dispatch_decision(
                spark, base, int(dec1["version"]) + 1, b2, p2, c2,
                decided_at_batch=1, n_at_decision=n2,
            )
        dec2 = load_latest_dispatch_decision(spark, base)
        day2 = _served_day(
            _redecide_serve(snap2, snap2.filter(F.col("vec_id") % 50 == 0), dec2), dec2, 2
        )
    return day1.unionByName(day2).orderBy("day", "query_id", "rank")


def _redecide_sql() -> str:
    """Staged oracle for the redecide query: rebuild both staged snapshots
    from md5, replay the DECISION on each (shared :func:`_decision_ctes`,
    prefixes e1/e2), replay the TRIGGER (count ratio vs the 1.5x rule) and
    the version/age arithmetic it implies, then replay each day's actual
    serving branch — day 1 as the IVF probe (reusing e1's centroids and
    derived n_probe), day 2 as the unrolled NSW build+search on the
    admitted snapshot (:func:`_nsw_ctes` rebound snap2-ward). If the data
    ever stopped flipping the decision, the SQL would keep replaying the
    staged branches but LABEL them from the replayed trigger/decisions
    while Spark serves the loaded verdict — a guaranteed hash mismatch,
    same discipline as the dispatch twins."""

    byte = _staged_byte_sql

    staged = f"""{_spine_ctes("smod0", "spine")}, snap1 AS (
      SELECT vec_id, CAST(vec_id % 8 AS INT) AS label,
             list_transform(range(0, 64), i ->
               CASE WHEN i = vec_id % 8 THEN 4.0 ELSE 0.0 END + {byte('s1:')}) AS embedding
      FROM spine
    ), newids AS (
      SELECT vec_id // 2 + 1000000 AS vec_id FROM spine WHERE vec_id % 2 = 0
    ), b2 AS (
      SELECT vec_id, CAST(vec_id % 8 AS INT) AS label,
             list_transform(range(0, 64), i -> {byte('s2:')}) AS embedding
      FROM newids
    ), snap2 AS (
      SELECT * FROM snap1 UNION ALL SELECT * FROM b2
    ), trig AS (
      SELECT CASE WHEN (SELECT count(*) FROM snap2) >= 1.5 * (SELECT count(*) FROM snap1)
                  THEN 1 ELSE 0 END AS fired
    ),"""
    decrows = """
    e1dec AS (
      SELECT CASE WHEN 2 * (SELECT n_probe FROM e1pick) <= (SELECT n_cells FROM e1cells)
                  THEN 'ivf' ELSE 'nsw' END AS branch_used,
             CAST((SELECT n_probe FROM e1pick) AS INT) AS n_probe_used,
             CAST((SELECT n_cells FROM e1cells) AS INT) AS n_cells_used
    ), e2dec AS (
      SELECT CASE WHEN 2 * (SELECT n_probe FROM e2pick) <= (SELECT n_cells FROM e2cells)
                  THEN 'ivf' ELSE 'nsw' END AS branch_used,
             CAST((SELECT n_probe FROM e2pick) AS INT) AS n_probe_used,
             CAST((SELECT n_cells FROM e2cells) AS INT) AS n_cells_used
    ), servedec AS (
      SELECT CASE WHEN t.fired = 1 THEN b.branch_used ELSE a.branch_used END AS branch_used,
             CASE WHEN t.fired = 1 THEN b.n_probe_used ELSE a.n_probe_used END AS n_probe_used,
             CASE WHEN t.fired = 1 THEN b.n_cells_used ELSE a.n_cells_used END AS n_cells_used,
             CAST(1 + t.fired AS INT) AS decision_version,
             CAST(1 - t.fired AS INT) AS decision_age_batches
      FROM trig t CROSS JOIN e1dec a CROSS JOIN e2dec b
    ),"""
    day1 = f"""
    q1 AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM snap1 WHERE vec_id % 50 = 0
    ), q1probe AS (
      SELECT query_id, qv, label FROM (
        SELECT q.query_id, q.qv, c.label,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 {_COS_Q_CENT.format(q="q.qv", c="c.centroid")} DESC, c.label ASC) AS pr
        FROM q1 q CROSS JOIN e1cent c) t
      WHERE pr <= (SELECT n_probe FROM e1pick)
    ), day1r AS (
      SELECT query_id, rank, corpus_id FROM (
        SELECT p.query_id, m.vec_id AS corpus_id,
               row_number() OVER (PARTITION BY p.query_id ORDER BY
                 {_COS_Q_CENT.format(q="p.qv", c="CAST(m.embedding AS DOUBLE[])")} DESC,
                 m.vec_id ASC) AS rank
        FROM q1probe p JOIN snap1 m ON m.label = p.label AND m.vec_id <> p.query_id
      ) t WHERE rank <= 5
    ),"""
    nsw = _nsw_ctes(beam_width=16, k_build=16, n_probe=3, n_entry=16, entry_mod=5)
    # pinned-occurrence rebind (the labelfree-twin convention): the NSW
    # build+search must read the ADMITTED snapshot, nothing else
    assert nsw.count("embeddings") == 4, nsw.count("embeddings")
    nsw = nsw.replace("embeddings", "snap2")
    final = """
    SELECT day, query_id, CAST(rank AS INT) AS rank, corpus_id,
           branch_used, n_probe_used, n_cells_used,
           decision_version, decision_age_batches
    FROM (
      SELECT CAST(1 AS INT) AS day, r.query_id, r.rank, r.corpus_id,
             d.branch_used, d.n_probe_used, d.n_cells_used,
             CAST(1 AS INT) AS decision_version,
             CAST(0 AS INT) AS decision_age_batches
      FROM day1r r CROSS JOIN e1dec d
      UNION ALL
      SELECT CAST(2 AS INT) AS day, t.query_id, t.rank, t.corpus_id,
             s.branch_used, s.n_probe_used, s.n_cells_used,
             s.decision_version, s.decision_age_batches
      FROM (SELECT query_id, node AS corpus_id,
                   row_number() OVER (PARTITION BY query_id ORDER BY dist, node) AS rank
            FROM beam4) t CROSS JOIN servedec s
      WHERE t.rank <= 5
    ) u ORDER BY day, query_id, rank
    """
    return (
        "WITH "
        + staged
        + _decision_ctes("snap1", "e1")
        + _decision_ctes("snap2", "e2")
        + decrows
        + day1
        + nsw
        + final
    )


register("similarity_ann_dispatch_redecide", _ann_dispatch_redecide, _redecide_sql())


# --- dispatch staleness: recall-drift trigger at constant size (r14 #6) -----
def _staged_recall_drift_snapshots(spark, sf_dir):
    """Constant-size SHAPE drift on the embeddings id spine, fully
    md5-derived so the oracle rebuilds both corpora bit-exactly: day 1 is
    the axis-spike clustered corpus (vector[j] = 4.0*(j == vec_id%8) +
    md5byte('c1:id:j')/256); day 2 REPLACES every vector IN PLACE with
    uniform md5 noise ('c2:') — same ids, same labels, same row count.
    This is exactly the drift the growth/batch-count triggers are blind
    to: n_snapshot never moves, so only the recall probe can notice that
    the served IVF decision's quality collapsed. Spine modulus is the
    redecide query's count-derived 3x subsample past 10k rows (the toy
    NSW config stays proportionate at scale; the oracle replays the same
    modulus from its own count), densely renumbered for the coarse
    quantizer's 0..15 id pin — identity when m = 1. Spine + byte are the
    shared :func:`_staged_spine` / :func:`_staged_byte`."""
    ids = _staged_spine(spark, sf_dir)
    byte = _staged_byte
    dims = F.sequence(F.lit(0), F.lit(63))
    label = (F.col("vec_id") % 8).cast("int").alias("label")
    snap1 = ids.select(
        "vec_id",
        label,
        F.transform(
            dims,
            lambda i: F.when(i == F.col("vec_id") % 8, F.lit(4.0))
            .otherwise(F.lit(0.0))
            + byte("c1:", i),
        ).alias("embedding"),
    )
    snap2 = ids.select(
        "vec_id", label, F.transform(dims, lambda i: byte("c2:", i)).alias("embedding")
    )
    return snap1, snap2


def _ann_dispatch_recall_drift(spark, sf_dir):
    """The dispatch contract's RECALL-DRIFT trigger (r14 verdict item 6):
    growth/batch-count triggers never re-decide on a corpus that drifts in
    SHAPE at constant size, so the trigger evaluation now also runs the
    capped-sample self-recall probe at the decision's SERVED n_probe
    (operators/similarity.ivf_recall_at) and fires below a floor. The
    staged drill: day 1 prices the axis-spike corpus (n_probe=1 -> IVF,
    persisted v1); day 2's in-place noise replacement keeps the count
    FLAT — growth trigger provably silent — while recall@1 collapses to
    ~1/n_cells, the recall trigger fires, the re-probe prices the
    de-clustered corpus past n_cells/2 -> NSW (persisted v2), and day 2
    serves the post-flip branch. The oracle replays both decisions
    (:func:`_decision_ctes` per snapshot), the trigger arithmetic as
    INTEGER pair counts (``trigger_hit_pairs`` / ``trigger_total_pairs``
    — the <0.9 compare is one IEEE double division on both engines), the
    version/age bookkeeping, each day's served branch, and pins the
    POST-FLIP serving quality as integer counts too
    (``served_hit_pairs`` / ``truth_pairs`` — served top-5 vs exact
    cosine truth). A silent recall collapse, a trigger that fails to
    fire, or a flip that stops happening is a hash mismatch."""
    from ..operators.similarity import (
        ann_dispatch_decision,
        ann_dispatch_should_redecide,
        ivf_recall_counts,
        load_latest_dispatch_decision,
        persist_dispatch_decision,
    )
    from ..scratch import scratch_dir

    snap1, snap2 = _staged_recall_drift_snapshots(spark, sf_dir)
    snap1 = snap1.localCheckpoint(eager=False)
    n1 = snap1.count()
    base = scratch_dir(f"ann_recalldrift_{sf_dir.rstrip('/').rsplit('/', 1)[-1]}")
    import shutil as _shutil

    # staged scenario starts at v1 every invocation (bench runs 4x/process)
    _shutil.rmtree(f"{base}/decision", ignore_errors=True)

    nulls = [
        F.lit(None).cast("long").alias(c)
        for c in ("trigger_hit_pairs", "trigger_total_pairs",
                  "served_hit_pairs", "truth_pairs")
    ]
    p1, c1, b1 = ann_dispatch_decision(snap1, target_queries=50, n=n1)
    persist_dispatch_decision(
        spark, base, 1, b1, p1, c1, decided_at_batch=0, n_at_decision=n1
    )
    dec1 = load_latest_dispatch_decision(spark, base)
    day1 = _served_day(
        _redecide_serve(snap1, snap1.filter(F.col("vec_id") % 50 == 0), dec1), dec1, 1, *nulls
    )

    # day 2 (batch 1): vectors replaced in place; trigger evaluation runs
    # the recall probe at the SERVED n_probe against the current snapshot
    snap2 = snap2.localCheckpoint(eager=False)
    n2 = snap2.count()
    trig_hits, trig_total = ivf_recall_counts(
        snap2, int(dec1["n_probe"]), k=5, target_queries=50, n_corpus=n2
    )
    served_recall = (trig_hits / trig_total) if trig_total else 1.0
    if ann_dispatch_should_redecide(
        n2,
        int(dec1["n_at_decision"]),
        1 - int(dec1["decided_at_batch"]),
        served_recall=served_recall,
        recall_floor=0.9,
    ):
        p2, c2, b2 = ann_dispatch_decision(snap2, target_queries=50, n=n2)
        persist_dispatch_decision(
            spark, base, int(dec1["version"]) + 1, b2, p2, c2,
            decided_at_batch=1, n_at_decision=n2,
        )
    dec2 = load_latest_dispatch_decision(spark, base)
    q2 = snap2.filter(F.col("vec_id") % 50 == 0)
    served2 = _redecide_serve(snap2, q2, dec2).localCheckpoint(eager=False)
    # pin the post-flip serving quality: served top-5 vs exact cosine truth
    truth2 = brute_force_topk(snap2, q2, k=5).localCheckpoint(eager=False)
    truth_pairs = truth2.count()
    served_hits = served2.join(
        truth2.select("query_id", "corpus_id"), ["query_id", "corpus_id"]
    ).count()
    day2 = _served_day(
        served2, dec2, 2,
        F.lit(trig_hits).cast("long").alias("trigger_hit_pairs"),
        F.lit(trig_total).cast("long").alias("trigger_total_pairs"),
        F.lit(served_hits).cast("long").alias("served_hit_pairs"),
        F.lit(truth_pairs).cast("long").alias("truth_pairs"),
    )
    return day1.unionByName(day2).orderBy("day", "query_id", "rank")


def _recall_drift_sql() -> str:
    """Staged oracle for the recall-drift query: rebuild both constant-size
    snapshots from md5, replay BOTH decisions (shared
    :func:`_decision_ctes` — f2's recall curve IS the trigger probe's
    histogram, so the trigger replay is one cumulative sum over it),
    replay the trigger rule (growth OR recall@served_n_probe < 0.9), the
    version/age arithmetic, day 1's IVF probe serve, day 2's unrolled NSW
    build+search on the replaced snapshot, and the served-vs-truth pair
    counts. Same discipline as the redecide oracle: if the data ever
    stopped flipping, the SQL would keep replaying the staged branches but
    LABEL them from the replayed trigger — a guaranteed hash mismatch."""

    byte = _staged_byte_sql

    staged = f"""{_spine_ctes("cmod", "cspine")}, csnap1 AS (
      SELECT vec_id, CAST(vec_id % 8 AS INT) AS label,
             list_transform(range(0, 64), i ->
               CASE WHEN i = vec_id % 8 THEN 4.0 ELSE 0.0 END + {byte('c1:')}) AS embedding
      FROM cspine
    ), csnap2 AS (
      SELECT vec_id, CAST(vec_id % 8 AS INT) AS label,
             list_transform(range(0, 64), i -> {byte('c2:')}) AS embedding
      FROM cspine
    ),"""
    trig = """
    ctrig AS (
      SELECT hits, total,
             CASE WHEN (SELECT count(*) FROM csnap2)
                       >= 1.5 * (SELECT count(*) FROM csnap1)
                       OR hits * 1.0 / total < 0.9
                  THEN 1 ELSE 0 END AS fired
      FROM (SELECT CAST(coalesce(sum(CASE WHEN cell_rank <=
                     (SELECT n_probe FROM f1pick) THEN pairs END), 0) AS BIGINT) AS hits,
                   CAST(sum(pairs) AS BIGINT) AS total
            FROM f2curve) h
    ), f1dec AS (
      SELECT CASE WHEN 2 * (SELECT n_probe FROM f1pick) <= (SELECT n_cells FROM f1cells)
                  THEN 'ivf' ELSE 'nsw' END AS branch_used,
             CAST((SELECT n_probe FROM f1pick) AS INT) AS n_probe_used,
             CAST((SELECT n_cells FROM f1cells) AS INT) AS n_cells_used
    ), f2dec AS (
      SELECT CASE WHEN 2 * (SELECT n_probe FROM f2pick) <= (SELECT n_cells FROM f2cells)
                  THEN 'ivf' ELSE 'nsw' END AS branch_used,
             CAST((SELECT n_probe FROM f2pick) AS INT) AS n_probe_used,
             CAST((SELECT n_cells FROM f2cells) AS INT) AS n_cells_used
    ), cservedec AS (
      SELECT CASE WHEN t.fired = 1 THEN b.branch_used ELSE a.branch_used END AS branch_used,
             CASE WHEN t.fired = 1 THEN b.n_probe_used ELSE a.n_probe_used END AS n_probe_used,
             CASE WHEN t.fired = 1 THEN b.n_cells_used ELSE a.n_cells_used END AS n_cells_used,
             CAST(1 + t.fired AS INT) AS decision_version,
             CAST(1 - t.fired AS INT) AS decision_age_batches,
             t.hits AS trigger_hit_pairs, t.total AS trigger_total_pairs
      FROM ctrig t CROSS JOIN f1dec a CROSS JOIN f2dec b
    ),"""
    day1 = f"""
    cq1 AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM csnap1 WHERE vec_id % 50 = 0
    ), cq1probe AS (
      SELECT query_id, qv, label FROM (
        SELECT q.query_id, q.qv, c.label,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 {_COS_Q_CENT.format(q="q.qv", c="c.centroid")} DESC, c.label ASC) AS pr
        FROM cq1 q CROSS JOIN f1cent c) t
      WHERE pr <= (SELECT n_probe FROM f1pick)
    ), cday1r AS (
      SELECT query_id, rank, corpus_id FROM (
        SELECT p.query_id, m.vec_id AS corpus_id,
               row_number() OVER (PARTITION BY p.query_id ORDER BY
                 {_COS_Q_CENT.format(q="p.qv", c="CAST(m.embedding AS DOUBLE[])")} DESC,
                 m.vec_id ASC) AS rank
        FROM cq1probe p JOIN csnap1 m ON m.label = p.label AND m.vec_id <> p.query_id
      ) t WHERE rank <= 5
    ),"""
    nsw = _nsw_ctes(beam_width=16, k_build=16, n_probe=3, n_entry=16, entry_mod=5)
    # pinned-occurrence rebind: the NSW build+search reads the REPLACED
    # snapshot, nothing else
    assert nsw.count("embeddings") == 4, nsw.count("embeddings")
    nsw = nsw.replace("embeddings", "csnap2")
    post = f"""
    , cserved2 AS (
      SELECT query_id, node AS corpus_id,
             row_number() OVER (PARTITION BY query_id ORDER BY dist, node) AS rank
      FROM beam4
    ), ctruth2 AS (
      SELECT query_id, corpus_id FROM (
        SELECT q.query_id, c.vec_id AS corpus_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 {_COS_Q_CENT.format(q="q.qv", c="CAST(c.embedding AS DOUBLE[])")} DESC,
                 c.vec_id ASC) AS rank
        FROM (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
              FROM csnap2 WHERE vec_id % 50 = 0) q
        JOIN csnap2 c ON c.vec_id <> q.query_id
      ) t WHERE rank <= 5
    ), csrec AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM cserved2 s
              JOIN ctruth2 t2 ON t2.query_id = s.query_id
                             AND t2.corpus_id = s.corpus_id
              WHERE s.rank <= 5) AS served_hit_pairs,
             (SELECT CAST(count(*) AS BIGINT) FROM ctruth2) AS truth_pairs
    )"""
    final = """
    SELECT day, query_id, CAST(rank AS INT) AS rank, corpus_id,
           branch_used, n_probe_used, n_cells_used,
           decision_version, decision_age_batches,
           trigger_hit_pairs, trigger_total_pairs,
           served_hit_pairs, truth_pairs
    FROM (
      SELECT CAST(1 AS INT) AS day, r.query_id, r.rank, r.corpus_id,
             d.branch_used, d.n_probe_used, d.n_cells_used,
             CAST(1 AS INT) AS decision_version,
             CAST(0 AS INT) AS decision_age_batches,
             CAST(NULL AS BIGINT) AS trigger_hit_pairs,
             CAST(NULL AS BIGINT) AS trigger_total_pairs,
             CAST(NULL AS BIGINT) AS served_hit_pairs,
             CAST(NULL AS BIGINT) AS truth_pairs
      FROM cday1r r CROSS JOIN f1dec d
      UNION ALL
      SELECT CAST(2 AS INT) AS day, t.query_id, t.rank, t.corpus_id,
             s.branch_used, s.n_probe_used, s.n_cells_used,
             s.decision_version, s.decision_age_batches,
             s.trigger_hit_pairs, s.trigger_total_pairs,
             sr.served_hit_pairs, sr.truth_pairs
      FROM cserved2 t CROSS JOIN cservedec s CROSS JOIN csrec sr
      WHERE t.rank <= 5
    ) u ORDER BY day, query_id, rank
    """
    return (
        "WITH "
        + staged
        + _decision_ctes("csnap1", "f1")
        + _decision_ctes("csnap2", "f2")
        + trig
        + day1
        + nsw
        + post
        + final
    )


register(
    "similarity_ann_dispatch_recall_drift",
    _ann_dispatch_recall_drift,
    _recall_drift_sql(),
)


# --- streaming ANN admit loop (probe-then-admit; see streaming/similarity) --
def _streaming_ann_probe(spark, sf_dir):
    """Two-day embedding crawl: each batch top-3-probes the admitted vector
    index then joins it; day-2 near-dups of day-1 novel vectors retrieve
    their true neighbour only through the admission step. Exact HOF probe
    contract, so the staged oracle (batch 1 vs history, batch 2 vs
    history + batch 1) replays every similarity and rank."""
    from ..streaming.similarity import run_streaming_ann_probe

    return run_streaming_ann_probe(spark, sf_dir, k=3)


_ANN_COS = (
    "round(list_sum(list_transform(list_zip(q.v, c.v), p -> p[1] * p[2]))"
    " / (sqrt(list_sum(list_transform(q.v, x -> x * x)))"
    " * sqrt(list_sum(list_transform(c.v, x -> x * x)))), 6)"
)

_MD5V = lambda pfx: (  # noqa: E731 — local SQL-fragment builder
    "list_transform(range(0, 64), i -> "
    f"CAST(concat('0x', substring(md5(concat('{pfx}', CAST(vec_id AS VARCHAR), ':', CAST(i AS VARCHAR))), 1, 2)) AS INT) / 256.0)"
)

_ANN_PROBE_ORACLE = f"""
    WITH hist AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), near1 AS (
      SELECT vec_id + 1000000 AS vec_id,
             list_transform(list_zip(CAST(embedding AS DOUBLE[]), range(0, len(embedding))),
                            p -> CASE WHEN p[2] = 0 THEN p[1] + 0.05 ELSE p[1] END) AS v
      FROM embeddings WHERE vec_id % 40 = 0
    ), novel1 AS (
      SELECT vec_id + 2000000 AS new_id, {_MD5V('v1:')} AS v
      FROM embeddings WHERE vec_id % 40 = 10
    ), b1 AS (
      SELECT vec_id, v FROM near1
      UNION ALL SELECT new_id, v FROM novel1
    ), near2 AS (
      SELECT new_id + 1000000 AS vec_id,
             list_transform(list_zip(v, range(0, len(v))),
                            p -> CASE WHEN p[2] = 0 THEN p[1] + 0.05 ELSE p[1] END) AS v
      FROM novel1
    ), new2 AS (
      SELECT vec_id + 4000000 AS vec_id, {_MD5V('v2:')} AS v
      FROM embeddings WHERE vec_id % 40 = 20
    ), b2 AS (
      SELECT vec_id, v FROM near2
      UNION ALL SELECT vec_id, v FROM new2
    ), idx2 AS (
      SELECT * FROM hist UNION ALL SELECT * FROM b1
    ), s1 AS (
      SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, {_ANN_COS} AS cos_sim
      FROM b1 q CROSS JOIN hist c WHERE c.vec_id <> q.vec_id
    ), s2 AS (
      SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, {_ANN_COS} AS cos_sim
      FROM b2 q CROSS JOIN idx2 c WHERE c.vec_id <> q.vec_id
    ), ranked AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, corpus_id ASC) AS rank
        FROM s1) t WHERE rank <= 3
      UNION ALL
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, corpus_id ASC) AS rank
        FROM s2) t WHERE rank <= 3
    )
    SELECT query_id, CAST(rank AS INT) AS rank, corpus_id, cos_sim
    FROM ranked ORDER BY query_id, rank
    """

register(
    "similarity_streaming_ann_probe",
    _streaming_ann_probe,
    _ANN_PROBE_ORACLE,
)


def _streaming_ann_restart(spark, sf_dir):
    """The RESTART drill for the ANN admit loop
    (streaming/similarity.run_streaming_ann_probe_restart): same staged
    days and per-batch body as the single-run twin, but each day runs in
    its own query lifetime — the DeltaManifest is rebuilt from its durable
    transaction log between days and Spark's checkpointLocation skips the
    processed file. Output is bit-equal; the SAME staged oracle hash-checks
    the recovery path."""
    from ..streaming.similarity import run_streaming_ann_probe_restart

    return run_streaming_ann_probe_restart(spark, sf_dir, k=3)


register(
    "similarity_streaming_ann_restart",
    _streaming_ann_restart,
    _ANN_PROBE_ORACLE,
)
