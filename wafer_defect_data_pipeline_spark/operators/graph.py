"""Distributed graph helpers for dedup clustering (extension surface §2.9).

Near-dup pair generators (``operators/dedup.py``) emit edges; an actual
curation run needs each *cluster* collapsed to one kept document, which is
connected components over those edges, named by the min reachable id.
Three implementations share that contract:

- :func:`connected_components` — iterative min-label propagation on
  DataFrames, ``label(v) <- min(label(v), min over neighbours u of
  label(u))``. Each round is one equi-join + one map-side-combinable
  min-agg on ``(node, label)`` longs, never the document payload; rounds
  needed = graph diameter.
- :func:`connected_components_star` — the alternating large-star/small-star
  rewrite (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC'14), O(log n) rounds over the same join shape for adversarially
  long chains.
- :func:`connected_components_auto` — the default of
  :func:`cluster_assignment`, a three-way branch on one edge fetch: at or
  under :data:`LOCAL_MAX_EDGES` the edge list is fetched to the driver
  and a numpy union-find (hooking + pointer jumping) labels it there, so
  small graphs cost one fetch instead of a driver-side loop of actions;
  above it, a budgeted propagation probe, falling back to star when the
  diameter trips the budget.

Driver-side iteration with a convergence count is the idiomatic Spark shape
for the relational fixpoints (same loop structure GraphFrames uses); each
round is pinned with ``localCheckpoint`` to stop the plan growing linearly
with iteration count.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """``(id, component)`` for every id in ``pairs``; component = min reachable id.

    ``pairs`` is an undirected edge list (one row per edge, either
    orientation). Ids must be orderable (the min id in each component names
    it, making output deterministic). Raises if the propagation has not
    converged after ``max_iter`` rounds rather than return a wrong answer.
    """
    e = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    edges = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = edges.select(F.col("a").alias("id")).distinct().withColumn("component", F.col("id"))

    def _relax(lbl: DataFrame) -> DataFrame:
        nbr_min = (
            edges.join(
                lbl.select(F.col("id").alias("b"), F.col("component").alias("nbr_comp")),
                on="b",
            )
            .groupBy("a")
            .agg(F.min("nbr_comp").alias("nbr_comp"))
            .select(F.col("a").alias("id"), "nbr_comp")
        )
        # Carry the changed-flag inline instead of re-joining new vs old
        # labels: the convergence probe is then a plain agg over the frame
        # the round materializes anyway — one fewer shuffle join per round.
        return (
            lbl.join(nbr_min, on="id", how="left")
            .select(
                "id",
                F.least(F.col("component"), F.coalesce("nbr_comp", F.col("component"))).alias(
                    "new_component"
                ),
                (F.coalesce("nbr_comp", F.col("component")) < F.col("component")).alias("__changed"),
            )
            .localCheckpoint(eager=False)
        )

    # TWO relax rounds per driver action (r15, guide §1.2/§5: the loop's
    # cost at small scale is the per-action round-trip — planning, AQE
    # re-optimization, scheduling — not the relax compute; fusing a pair
    # halves the actions). Exactness: checking only the SECOND round's
    # changed-count is sufficient — if round B changed nothing its input
    # was already the fixpoint (propagation is idempotent at convergence),
    # and labels equal the single-round loop's output because extra relax
    # rounds on a fixpoint are identity. The max_iter budget semantics are
    # unchanged (an odd budget's last iteration runs a single round), so
    # connected_components_auto's probe_rounds fallback decision — converge
    # within N rounds or raise — is decision-equivalent.
    rounds = 0
    while rounds < max_iter:
        flagged = _relax(labels)
        rounds += 1
        if rounds < max_iter:
            flagged = _relax(flagged.select("id", F.col("new_component").alias("component")))
            rounds += 1
        n_changed = flagged.filter(F.col("__changed")).count()
        labels = flagged.select("id", F.col("new_component").alias("component"))
        if n_changed == 0:
            return labels
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def cluster_assignment(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    algorithm: str = "auto",
) -> DataFrame:
    """Every row of ``df`` labeled with its dedup cluster (singletons included).

    Rows not touched by any pair keep their own id as the component — the
    join against the (tiny) component map broadcasts, so the corpus never
    shuffles. The default ``algorithm="auto"`` is a three-way branch on one
    edge fetch (:func:`connected_components_auto`): up to 1M edges, a
    numpy union-find on the driver; above that, budgeted propagation, and the
    large-star/small-star rewrite when the diameter trips the budget.
    ``"propagation"`` and ``"star"`` pin one relational loop.
    """
    algos = {
        "propagation": connected_components,
        "star": connected_components_star,
        "auto": connected_components_auto,
    }
    comp = algos[algorithm](pairs, src, dst)
    return df.join(
        F.broadcast(comp.withColumnRenamed("id", id_col)), on=id_col, how="left"
    ).withColumn("component", F.coalesce("component", F.col(id_col)))


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 8,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list → ``(node, rank)``.

    Same driver-side fixpoint shape as :func:`connected_components`: each
    round is one equi-join of the (node, rank) frame onto the degree-annotated
    edges plus one map-side-combinable sum per destination — the shuffled
    rows are (node, double) regardless of graph size, and ``localCheckpoint``
    caps plan growth. Fixed ``n_iter`` (not convergence-tested) keeps the
    result exactly reproducible by a recursive-SQL oracle. Callers must
    ensure every node has at least one out-edge (e.g. feed bidirectional
    edges); dangling-node mass is otherwise dropped, as in the classic
    formulation without a teleport-redistribution term.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ed = e.join(deg, on="src").localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.count()
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    for _ in range(n_iter):
        contribs = (
            ed.join(ranks.withColumnRenamed("node", "src"), on="src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("__in"))
        )
        ranks = (
            nodes.join(contribs.withColumnRenamed("dst", "node"), on="node", how="left")
            .select(
                "node",
                (F.lit((1.0 - damping) / n) + F.lit(damping) * F.coalesce("__in", F.lit(0.0))).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks


def triangle_count(pairs: DataFrame, src: str = "id_a", dst: str = "id_b") -> DataFrame:
    """Exact triangle count over an undirected edge list, degree-oriented.

    Near-dup graphs answer "how clubby is this cluster?" with triangle
    density (a dedup cluster that is a clean clique looks very different
    from a chain of borderline matches). The naive 3-way self-join
    enumerates every path of length 2 — on a high-degree hub that is
    O(d_max²) rows. The classic fix (compact-forward / Suri & Vassilvitskii
    "Counting Triangles and the Curse of the Last Reducer", WWW'11) orients
    each edge from the lower-(degree, id) endpoint to the higher one: every
    triangle is counted exactly once, and wedge enumeration is bounded by
    the ORIENTED out-degree, O(sqrt(|E|)) per node, so no reducer melts.

    Input rows may carry either orientation and duplicates; they are
    normalized first. Returns a 1-row DataFrame ``(n_triangles)``.
    """
    e = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    und = (
        e.select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
        .localCheckpoint(eager=False)  # feeds degree agg + 3 join sides
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    # orient low-(degree, id) -> high-(degree, id)
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("w")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("w")))
            .alias("e")
        )
        .select("e.u", "e.w")
        .localCheckpoint(eager=False)
    )
    e1 = oriented.select(F.col("u").alias("x"), F.col("w").alias("y"))
    e2 = oriented.select(F.col("u").alias("x"), F.col("w").alias("z"))
    wedges = e1.join(e2, "x").filter(F.col("y") < F.col("z"))
    closing = oriented.select(
        F.col("u").alias("cy"), F.col("w").alias("cz")
    ).unionByName(oriented.select(F.col("w").alias("cy"), F.col("u").alias("cz")))
    closed = wedges.join(
        closing, (F.col("y") == F.col("cy")) & (F.col("z") == F.col("cz")), "left_semi"
    )
    return closed.agg(F.count(F.lit(1)).alias("n_triangles"))


def connected_components_star(
    pairs: DataFrame, src: str = "id_a", dst: str = "id_b", max_iter: int = 30
) -> DataFrame:
    """Connected components via alternating large-star / small-star rewrites
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — public literature): the O(log n)-round alternative to
    min-label propagation for ADVERSARIAL diameters.

    :func:`connected_components` needs one round per hop of graph diameter
    — fine for dedup clusters (short chains), fatal for a million-node
    path. The star rewrites contract the graph instead of propagating
    along it:

    - **large-star**: every neighbor v > u re-attaches to m = min(N(u)∪{u})
    - **small-star**: every neighbor v <= u (except m) re-attaches to m

    Each round is the same join shape as one propagation round (symmetrize
    → per-node min → re-attach), but the edge set converges to per-component
    stars in O(log n) alternations regardless of diameter. Convergence is
    detected by canonical-edge-set equality via count + sum of xxhash64 —
    at scale the exact anti-join check would cost another shuffle per
    round; a hash-sum collision masking a real change needs a 64-bit
    coincidence across the whole edge set. Returns ``(id, component)``
    with component = min reachable id, exactly like
    :func:`connected_components` (equivalence is pytest-verified on random
    graphs, plus a long-chain case the propagation loop cannot finish).
    """
    e_raw = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # nodes from the UNFILTERED pair list: a self-loop-only node is still a
    # (singleton) component, same as in connected_components
    nodes = (
        e_raw.select(F.col("a").alias("id"))
        .unionByName(e_raw.select(F.col("b").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    e0 = e_raw.filter(F.col("a") != F.col("b"))
    edges = (
        e0.select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def _sym(ed: DataFrame) -> DataFrame:
        return ed.unionByName(ed.select(F.col("b").alias("a"), F.col("a").alias("b")))

    def _mins(sym: DataFrame) -> DataFrame:
        # m(u) = min(N(u) ∪ {u})
        return sym.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))

    def _canon_sig(ed: DataFrame) -> tuple[int, int]:
        # decimal(38,0) sum: long-sum of 64-bit hashes overflows under ANSI.
        # collect()[0] not first(): executeTake can probe with an extra
        # partial job; the 1-row agg is cheaper as a single full job.
        row = ed.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")), F.lit(0)).alias("h"),
        ).collect()[0]
        return row.n, int(row.h)

    def _round(ed: DataFrame) -> DataFrame:
        """One large-star + small-star alternation (lazily pinned)."""
        sym = _sym(ed)
        m = _mins(sym)
        # large-star: (v, m(u)) for v in N(u), v > u
        large = (
            sym.join(m, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("x"), F.col("m").alias("y"))
        )
        mid = (
            large.filter(F.col("x") != F.col("y"))
            .select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # small-star on the large-star output: (v, m(u)) for v <= u
        sym2 = _sym(mid)
        m2 = _mins(sym2)
        small = (
            sym2.join(m2, "a")
            .filter(F.col("b") <= F.col("a"))
            .select(F.col("b").alias("x"), F.col("m").alias("y"))
            .unionByName(m2.select(F.col("a").alias("x"), F.col("m").alias("y")))
        )
        return (
            small.filter(F.col("x") != F.col("y"))
            .select(F.least("x", "y").alias("a"), F.greatest("x", "y").alias("b"))
            .distinct()
            .localCheckpoint(eager=False)
        )

    # One alternation per signature action. An r15 experiment fused TWO
    # alternations per action (the connected_components trick below): star
    # rounds are compute-heavy (two distinct+checkpoint rewrites each), so
    # the extra no-op rounds the pair boundary costs at convergence
    # outweighed the saved driver round-trips — measured 5.0 -> 6.4 s warm
    # at sf0.1 on dedup_cluster_assignment_star. Reverted: here the round
    # dominates the action, the opposite regime from label propagation.
    sig = _canon_sig(edges)
    for _ in range(max_iter):
        edges = _round(edges)
        new_sig = _canon_sig(edges)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(f"star CC did not converge in {max_iter} rounds")
    comp = edges.select(F.col("b").alias("id"), F.col("a").alias("component"))
    return (
        nodes.join(comp, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
    )


def _min_label_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    """Min-id connected components of the edge list ``pdf(a, b)`` in numpy.

    Ids are compressed to ranks with ``np.unique``, so a smaller rank is a
    smaller id. Every round hooks each edge's two root labels to their min
    (``np.minimum.at``, which applies every edge even when several share a
    root), then pointer-jumps ``lab = lab[lab]`` until every node points at
    a root. Labels only decrease and always name a node of the same
    component, so the component's minimum keeps its own label; at the
    fixpoint every edge's endpoints share one label, so every member is
    labeled with that minimum — the propagation answer by construction.
    Pointer jumping follows a chain in log steps, so the hook rounds do
    not follow the diameter: a sorted chain takes one, a randomly numbered
    chain 8 at 10k nodes and 12 at 1M."""
    a, b = pdf["a"].to_numpy(), pdf["b"].to_numpy()
    ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    u, v = inv[: len(a)], inv[len(a):]
    lab = np.arange(len(ids))
    while True:
        ru, rv = lab[u], lab[v]
        if (ru == rv).all():
            return pd.DataFrame({"id": ids, "component": ids[lab]})
        np.minimum.at(lab, ru, rv)
        np.minimum.at(lab, rv, ru)
        while True:
            jumped = lab[lab]
            if (jumped == lab).all():
                break
            lab = jumped


#: Edge count up to which :func:`connected_components_auto` fetches the edge
#: list to the driver and runs :func:`_min_label_kernel` there. The fetch +
#: kernel beat the probe/star path at every size measured (4 cores, 2g
#: driver, random and 5-node-cluster graphs): 1e5 edges 1.2-1.3 s vs
#: 5.7-24 s, 1e6 7.3-8.7 s vs 21-78 s, 5e6 12-13 s vs 250 s. So the gate
#: bounds driver memory, not speed: the Python driver peaked at ~300 MiB
#: for 1e6 edges and ~760 MiB for 5e6.
LOCAL_MAX_EDGES = 1_000_000


def connected_components_auto(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    probe_rounds: int = 4,
    max_iter: int = 30,
) -> DataFrame:
    """Connected components on the cheapest engine for the edge count.

    The edge list is pinned, and one ``limit(LOCAL_MAX_EDGES + 1)`` fetch
    to the driver is both the size probe and, below the gate, the whole
    input, so no branch re-runs the pair generator.

    - **At most** :data:`LOCAL_MAX_EDGES` **edges** (zero included):
      :func:`_min_label_kernel` runs on the fetched frame in the driver and
      the result goes back with ``createDataFrame``. At this size the
      relational loops pay Spark's per-action overhead for every round
      (the budgeted probe alone is two count actions plus the checkpoint
      fills); the in-memory fixpoint costs no further job.
    - **Above the gate:** the diameter probe IS the cheap algorithm — run
      min-label propagation with a ``probe_rounds`` budget; dedup graphs
      (short chains, near-cliques) converge inside it and the probe's
      answer is returned. Only when the budget trips (the adversarial
      long-chain shape) does the run restart on the star rewrite, whose
      round count is O(log n) regardless of diameter.

    Every branch returns ``(id, component)`` with component = min
    reachable id, typed like the input ids.
    """
    common = pairs.select(F.coalesce(F.col(src), F.col(dst))).schema[0].dataType
    edges = pairs.select(
        F.col(src).cast(common).alias("a"), F.col(dst).cast(common).alias("b")
    ).localCheckpoint(eager=False)
    head = edges.limit(LOCAL_MAX_EDGES + 1).toPandas()
    if len(head) <= LOCAL_MAX_EDGES:
        schema = f"id {common.simpleString()}, component {common.simpleString()}"
        return edges.sparkSession.createDataFrame(_min_label_kernel(head), schema)
    try:
        return connected_components(edges, "a", "b", max_iter=probe_rounds)
    except RuntimeError:
        return connected_components_star(edges, "a", "b", max_iter=max_iter)


def k_core(
    pairs: DataFrame, src: str = "id_a", dst: str = "id_b", k: int = 2, max_iter: int = 50
) -> DataFrame:
    """k-core decomposition by iterative peeling (Seidman, "Network
    structure and minimum degree", Social Networks 1983 — public
    literature): repeatedly delete nodes of degree < k in the CURRENT
    subgraph until none remain. The surviving subgraph is the maximal one
    where every node keeps >= k neighbors — the standard dense-community
    filter over near-dup graphs (a k-core survivor is corroborated by k
    independent near-matches, a chain pendant is not).

    Same driver-side fixpoint shape as :func:`connected_components`: each
    round is one symmetrized degree count plus two broadcast anti-joins
    against the (small) low-degree node set, with ``localCheckpoint``
    pinning lineage. Rounds are bounded by the peeling depth (graph
    degeneracy), not the diameter. Deterministic: the final subgraph is
    unique (the k-core is order-independent — peeling in any order
    reaches the same fixpoint), so the output is partition-invariant.

    Returns ``(id, core_degree)`` for surviving nodes — degree counted
    within the k-core. Empty output when no k-core exists. Although the
    round count is data-dependent, the fixpoint is idempotent (peeling a
    converged graph removes nothing), so a DuckDB oracle that unrolls a
    FIXED number of rounds with margin over the observed depth replays it
    exactly (see queries_timeseries._kcore_oracle); pytest additionally
    pins exact outputs on known graphs.
    """
    e0 = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    edges = (
        e0.select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        sym = edges.unionByName(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
        low = deg.filter(F.col("d") < k).select(F.col("a").alias("v"))
        if low.isEmpty():
            return deg.select(F.col("a").alias("id"), F.col("d").alias("core_degree"))
        edges = (
            edges.join(F.broadcast(low.withColumnRenamed("v", "a")), "a", "left_anti")
            .join(F.broadcast(low.withColumnRenamed("v", "b")), "b", "left_anti")
            .select("a", "b")
            .localCheckpoint(eager=False)
        )
    raise RuntimeError(f"k_core did not converge in {max_iter} rounds")


def merge_components(
    assign: DataFrame,
    new_edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Incremental connected-components maintenance: fold a batch of NEW
    edges into an existing ``(id, component)`` assignment without
    re-running CC over the historical edge set.

    The contraction trick: endpoints map to their CURRENT component labels
    (new ids label themselves), and CC runs over the CONTRACTED graph —
    one node per touched component, one edge per new pair. The expensive
    iterate is confined to a graph whose size is bounded by the BATCH, not
    the corpus; history participates only through one broadcast-able
    equi-join per endpoint and the final label remap. Because existing
    labels are min-ids of their old components and new ids enter as
    themselves, the contracted CC's min-label output reproduces EXACTLY
    what a from-scratch CC over (old ∪ new) edges would name — the
    property the incremental-clusters oracle pins by full recompute.

    Daily-crawl shape: day N's near-dup/linkage edges arrive, the entity
    table updates in O(batch) work; at 100 TB the assignment lives
    partitioned on ``component`` so the remap join co-locates.
    """
    # the batch edge list feeds the contraction joins AND the new-id scan —
    # pin it (house multi-use rule) so an expensive upstream pair generator
    # (e.g. a blocking probe) runs once, not once per consumer
    e = new_edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).localCheckpoint(eager=False)
    la = assign.select(F.col("id").alias("a"), F.col("component").alias("ca"))
    lb = assign.select(F.col("id").alias("b"), F.col("component").alias("cb"))
    contracted = (
        e.join(la, on="a", how="left")
        .join(lb, on="b", how="left")
        .select(
            F.coalesce("ca", F.col("a")).alias("id_a"),
            F.coalesce("cb", F.col("b")).alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
    )
    relabel = connected_components_auto(contracted, max_iter=max_iter).select(
        F.col("id").alias("component"), F.col("component").alias("new_component")
    )
    # new ids absent from the assignment join in with their contracted label
    new_ids = (
        e.select(F.col("a").alias("id"))
        .unionByName(e.select(F.col("b").alias("id")))
        .distinct()
        .join(assign.select("id"), on="id", how="left_anti")
        .withColumn("component", F.col("id"))
    )
    return (
        assign.unionByName(new_ids)
        .join(relabel, on="component", how="left")
        .select(
            "id", F.coalesce("new_component", F.col("component")).alias("component")
        )
    )


def label_propagation(
    edges: DataFrame, src: str = "src", dst: str = "dst", n_rounds: int = 3
) -> DataFrame:
    """Synchronous label propagation (community detection) → ``(node, label)``.

    Every node starts as its own label; each round it adopts the MOST
    FREQUENT label among its neighbours (ties: smallest label) — the
    GraphFrames/LPA semantics, kept exactly reproducible by running a
    FIXED number of synchronous rounds with a deterministic tie-break
    instead of convergence-testing an asynchronous schedule. Communities
    differ from connected components on connected-but-modular graphs:
    dense pockets keep their local majority label while bridges flip.

    Per round: one equi-join of (node, label) onto the edge list, one
    count per (node, neighbour-label), and one lexicographic
    ``min(struct(-count, label))`` argmax — all map-side-combinable; the
    shuffled rows are (node, label, count) regardless of graph size, and
    ``localCheckpoint`` caps plan growth exactly like the CC/PageRank
    loops above.

    Input edges are treated as UNDIRECTED (the GraphFrames/LPA semantics
    the docstring promises): the edge list is symmetrized internally —
    one ``unionByName`` of the reversed pairs, same as
    :func:`connected_components` — so labels flow BOTH ways and a node
    with only out-edges keeps receiving neighbour labels. Without this a
    directed edge list silently dropped every source-only node from
    ``labels`` after round 1. Pre-symmetrized input is unaffected (the
    reversed union is a no-op under ``distinct``).
    """
    fwd = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e = (
        fwd.unionByName(fwd.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(n_rounds):
        nbr = e.join(
            labels.select(F.col("node").alias("b"), F.col("label").alias("nl")),
            on="b",
        ).select(F.col("a").alias("node"), "nl")
        counts = nbr.groupBy("node", "nl").agg(F.count(F.lit(1)).alias("c"))
        labels = (
            counts.groupBy("node")
            .agg(
                F.min(F.struct((-F.col("c")).alias("negc"), F.col("nl").alias("l")))
                .alias("best")
            )
            .select("node", F.col("best.l").alias("label"))
            .localCheckpoint(eager=False)
        )
    return labels
