"""Entity resolution: blocking, candidate verification, entity clustering.

The record-linkage half of data curation the dedup family doesn't cover:
near-dup dedup asks "are these two DOCUMENTS the same content", entity
resolution asks "do these two ROWS refer to the same real-world entity"
(customer, supplier, author) despite typos and formatting drift. The
classical pipeline (Fellegi-Sunter framing; blocking surveys in
Christen, "Data Matching", Springer 2012) is:

    block -> candidate pairs -> pairwise verify -> transitive closure

and every stage has a natural distributed-relational shape:

- **standard blocking** (:func:`blocking_pairs`): a derived blocking key
  (here: stable substrings + a coarse attribute) and a self-equi-join on
  it. One shuffle on the key; never O(n²) — the quadratic cost is confined
  to within-block pairs, and block sizes are controlled by key design, not
  runtime luck. The verify predicate (``levenshtein <= d``) rides the
  join's filter so non-matches die before leaving the join operator.
- **sorted-neighborhood** (:func:`sorted_neighborhood_pairs`,
  Hernandez & Stolfo SIGMOD'95): sort within a partition key, compare each
  row to its next ``w`` neighbours via ``lead()`` projections — zero
  self-join, one window sort. Distributed shape: the window PARTITIONS on
  the coarse block key (a full-corpus global sort would serialize on one
  reducer), so one pass can miss cross-partition matches; production runs
  do multiple passes with rotated keys, exactly like multi-pass SNM in the
  literature.
- **entity ids**: connected components over the verified match edges
  (operators/graph.py — the same min-label propagation the dedup clusters
  use), so A~B and B~C transitively land in one entity even when A~C was
  never generated as a candidate.

Everything shuffles narrow rows only: (key, id, name) into the join,
(id, id) edges out of it. Names never fan out beyond their block.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph import connected_components_auto


def blocking_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols: list,
    max_distance: int = 2,
    max_block_size: int | None = None,
) -> DataFrame:
    """Verified match pairs ``(id_a, id_b, lev_dist)`` from standard blocking.

    ``block_cols`` is a list of Column expressions forming the blocking key
    (choose stable substrings — characters typos are unlikely to touch).
    Within each block, candidates are the triangular self-join; the
    Levenshtein verify is evaluated inside the join so only true matches
    materialize. Output ids are oriented ``id_a < id_b``.

    Scale: one shuffle of (block_key, id, name); within-block pairs are
    quadratic in BLOCK size only. Key design bounds typical blocks, but
    real corpora flood: a null/empty/default name puts millions of records
    under ONE key and the triangular join goes quadratic on exactly that
    reducer. ``max_block_size`` is the standard ER countermeasure (block
    purging — oversized blocks are dropped wholesale, cf. the blocking
    surveys in Christen 2012): one window count per record, blocks above
    the cap contribute no candidates at all. Skipped mass is visible —
    count the purged rows in a datacard — and recall for purged records
    must come from another pass (a different key), never from brute force.
    """
    keyed = df.select(
        F.col(id_col).alias("__id"),
        F.col(name_col).alias("__name"),
        *[c.alias(f"__bk{i}") for i, c in enumerate(block_cols)],
    )
    bk = [f"__bk{i}" for i in range(len(block_cols))]
    if max_block_size is not None:
        from pyspark.sql import Window as W

        keyed = keyed.withColumn(
            "__bs", F.count(F.lit(1)).over(W.partitionBy(*bk))
        ).filter(F.col("__bs") <= max_block_size)
    left = keyed.select(
        *bk, F.col("__id").alias("id_a"), F.col("__name").alias("__na")
    )
    right = keyed.select(
        *bk, F.col("__id").alias("id_b"), F.col("__name").alias("__nb")
    )
    return (
        left.join(right, on=bk)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.levenshtein("__na", "__nb") <= max_distance)
        .select(
            "id_a",
            "id_b",
            F.levenshtein("__na", "__nb").cast("int").alias("lev_dist"),
        )
    )


def blocking_probe(
    new_df: DataFrame,
    index_df: DataFrame,
    id_col: str,
    name_col: str,
    block_cols_fn,
    max_distance: int = 2,
) -> DataFrame:
    """Asymmetric linkage: match NEW records against an ADMITTED index.

    The incremental form of :func:`blocking_pairs` — a daily batch of
    records probes the master entity table on the blocking key instead of
    self-joining the union (history names are never re-shuffled against
    each other, only against the batch). ``block_cols_fn`` maps a frame to
    its blocking-key columns so both sides derive the key identically.
    Output: ``(new_id, index_id, lev_dist)``.

    Scale: the batch side is a day's crawl, the index side shuffles only
    (key, id, name) — and with the batch small enough Spark broadcasts it,
    making the probe one scan of the index. At 100 TB of accumulated
    entities the index-side shuffle is avoided entirely by writing the
    index partitioned on the blocking key (the gram-index layout trick).
    """
    left = new_df.select(
        F.col(id_col).alias("new_id"),
        F.col(name_col).alias("__na"),
        *[c.alias(f"__bk{i}") for i, c in enumerate(block_cols_fn(new_df))],
    )
    right = index_df.select(
        F.col(id_col).alias("index_id"),
        F.col(name_col).alias("__nb"),
        *[c.alias(f"__bk{i}") for i, c in enumerate(block_cols_fn(index_df))],
    )
    bk = [c for c in left.columns if c.startswith("__bk")]
    return (
        left.join(right, on=bk)
        .filter(F.levenshtein("__na", "__nb") <= max_distance)
        .select(
            "new_id",
            "index_id",
            F.levenshtein("__na", "__nb").cast("int").alias("lev_dist"),
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    partition_col: str,
    sort_col=None,
    window: int = 2,
    max_distance: int = 2,
) -> DataFrame:
    """Verified match pairs from one sorted-neighborhood pass.

    Rows sort by ``sort_col`` within ``partition_col``; each row is compared
    to its next ``window`` neighbours via ``lead()`` — no self-join at all,
    one window sort per partition key. A row's comparisons are a pure
    projection over the sorted frame, so the whole pass is scan → window →
    filter. ``sort_col`` (a Column; defaults to the name itself) is the SNM
    key-design lever: it must be built from characters typos are unlikely to
    touch, because a corrupted character at the FRONT of the sort key
    teleports the record far from its duplicate — the classic SNM failure
    mode the original paper's key-construction section is about. The
    partition key keeps the sort distributed (the single-pass SNM of the
    literature sorts globally — a serial reducer at 100 TB); multi-pass runs
    rotate the partition/sort key to recover cross-partition recall, same as
    multi-pass SNM.
    """
    from pyspark.sql import Window as W

    base = df.select(
        F.col(partition_col).alias("__pk"),
        F.col(id_col).alias("__id"),
        F.col(name_col).alias("__name"),
        (F.col(name_col) if sort_col is None else sort_col).alias("__sk"),
    )
    wspec = W.partitionBy("__pk").orderBy("__sk", "__name", "__id")
    cols = [base["__pk"], base["__id"], base["__name"]]
    for j in range(1, window + 1):
        cols.append(F.lead("__id", j).over(wspec).alias(f"__id{j}"))
        cols.append(F.lead("__name", j).over(wspec).alias(f"__name{j}"))
    led = base.select(*cols)
    parts = []
    for j in range(1, window + 1):
        parts.append(
            led.filter(F.col(f"__id{j}").isNotNull())
            .filter(F.levenshtein("__name", f"__name{j}") <= max_distance)
            .select(
                F.least("__id", f"__id{j}").alias("id_a"),
                F.greatest("__id", f"__id{j}").alias("id_b"),
                F.levenshtein("__name", f"__name{j}").cast("int").alias("lev_dist"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # no distinct: ids are unique, so each row has ONE rank per partition and
    # an unordered pair can only arise from one (row, offset) — deduping here
    # would buy nothing and cost a full shuffle of the pair list
    return out


def multipass_sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    partition_col: str,
    sort_cols: list,
    window: int = 2,
    max_distance: int = 2,
) -> DataFrame:
    """Multi-pass SNM (Hernandez & Stolfo SIGMOD'95 §multi-pass): union of
    one :func:`sorted_neighborhood_pairs` pass per entry of ``sort_cols``,
    deduplicated on the pair.

    One pass misses any duplicate whose corruption touches THAT pass's sort
    key (a front typo under a raw-name sort teleports the record away from
    its twin); rotating the key across passes makes the misses disjoint —
    a pair is lost only if EVERY key is corrupted, which key design makes
    unlikely. Cost is additive and each pass stays scan → window →
    projection; the one cross-pass ``distinct`` shuffles only the narrow
    verified-pair list (id_a, id_b, lev_dist — lev is a function of the
    pair, so distinct-on-all-three == distinct-on-pair).
    """
    from functools import reduce

    passes = [
        sorted_neighborhood_pairs(
            df,
            id_col,
            name_col,
            partition_col,
            sort_col=sc,
            window=window,
            max_distance=max_distance,
        )
        for sc in sort_cols
    ]
    return reduce(DataFrame.unionByName, passes).distinct()


def resolve_entities(
    df: DataFrame, id_col: str, pairs: DataFrame, max_iter: int = 25
) -> DataFrame:
    """``(id, entity_id)`` for every row: transitive closure over match pairs.

    entity_id = min id reachable through verified matches (deterministic
    cluster naming); singletons keep their own id. Same components engine
    as dedup clustering (:func:`~.graph.connected_components_auto`; edges
    are (long, long), the entity table never re-shuffles its payload).
    ``max_iter`` bounds the star rounds above the one-task size gate.
    """
    comp = connected_components_auto(pairs, "id_a", "id_b", max_iter=max_iter)
    return (
        df.select(F.col(id_col).alias("id"))
        .join(comp, on="id", how="left")
        .select(
            "id", F.coalesce("component", F.col("id")).alias("entity_id")
        )
    )
