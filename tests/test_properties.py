"""Property-based invariants (SURVEY.md §5.3), hypothesis-generated.

Each property drives the real Spark operator on small generated frames.
Example counts are kept low because every example is a Spark job; the
deterministic unit/oracle suites carry the volume, these carry the edges
(null placement, IQR==0 groups, sub-2-row groups, all-null columns).
"""

from __future__ import annotations

import math

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from wafer_defect_data_pipeline_spark.functions.derived import add_engineered_features
from wafer_defect_data_pipeline_spark.operators.asof import asof_join
from wafer_defect_data_pipeline_spark.operators.labeling import label_killer_defects
from wafer_defect_data_pipeline_spark.operators.outliers import remove_outliers_by_group

PROP_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

value = st.one_of(st.none(), st.floats(-1e6, 1e6, allow_nan=False), st.just(0.0))
wafer_row = st.tuples(st.sampled_from(["c1", "c2", "c3"]), value, value)


@given(rows=st.lists(wafer_row, min_size=0, max_size=30))
@settings(**PROP_SETTINGS)
def test_iqr_filter_is_shrinking_and_keeps_guarded_groups(spark, rows):
    pdf = pd.DataFrame(rows, columns=["Class", "SIZE_X", "SIZE_Y"]).astype(
        {"SIZE_X": "float64", "SIZE_Y": "float64"}
    )
    df = spark.createDataFrame(pdf, "Class string, SIZE_X double, SIZE_Y double")
    out = remove_outliers_by_group(df, "Class", ["SIZE_X", "SIZE_Y"])
    n_in, n_out = df.count(), out.count()
    assert n_out <= n_in
    # groups whose every column has <2 non-null values or zero IQR lose no rows
    for klass, grp in pdf.groupby("Class"):
        guarded = all(
            grp[c].count() < 2 or (grp[c].quantile(0.75) - grp[c].quantile(0.25)) == 0
            for c in ["SIZE_X", "SIZE_Y"]
        )
        if guarded:
            assert out.filter(F.col("Class") == klass).count() == len(grp)


@given(
    rows=st.lists(
        st.tuples(st.floats(-1e3, 1e3, allow_nan=False), st.one_of(st.none(), st.floats(-1e3, 1e3, allow_nan=False))),
        min_size=1,
        max_size=20,
    )
)
@settings(**PROP_SETTINGS)
def test_derived_features_never_inf(spark, rows):
    pdf = pd.DataFrame(rows, columns=["a", "b"])
    df = spark.createDataFrame(pdf, "a double, b double")
    out = add_engineered_features(df, {"r": ("a", "b", True)}).toPandas()
    assert not any(v is not None and not pd.isna(v) and math.isinf(v) for v in out["r"])


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["REAL", "FALSE"]),
            st.sampled_from(["PC", "RMG", "CBCMP", "OTHER"]),
            st.one_of(st.none(), st.integers(0, 1)),
        ),
        min_size=0,
        max_size=25,
    )
)
@settings(**PROP_SETTINGS)
def test_killer_implies_real_defect_in_mapped_step(spark, rows):
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["IS_DEFECT", "Step_desc", "KMeans_Cluster"]).astype(
            {"KMeans_Cluster": "Int64"}
        ),
        "IS_DEFECT string, Step_desc string, KMeans_Cluster int",
    )
    out = label_killer_defects(df, {"PC": 1, "RMG": 1, "CBCMP": 0}).toPandas()
    killers = out[out.is_killer_defect]
    assert (killers.IS_DEFECT == "REAL").all()
    assert killers.Step_desc.isin(["PC", "RMG", "CBCMP"]).all()
    for _, r in killers.iterrows():
        assert r.KMeans_Cluster == {"PC": 1, "RMG": 1, "CBCMP": 0}[r.Step_desc]


@given(
    left=st.lists(st.tuples(st.sampled_from(["k1", "k2"]), st.integers(0, 50)), min_size=1, max_size=15),
    right=st.lists(
        st.tuples(st.sampled_from(["k1", "k2"]), st.integers(0, 50), st.floats(0, 10, allow_nan=False)),
        min_size=0,
        max_size=15,
    ),
)
@settings(**PROP_SETTINGS)
def test_asof_join_matches_bruteforce(spark, left, right):
    # dedupe right per (key, ts) — documented precondition for deterministic ties
    rdict = {}
    for k, ts, v in right:
        rdict[(k, ts)] = max(v, rdict.get((k, ts), -1.0))
    rrows = [(k, ts, v) for (k, ts), v in rdict.items()]
    ldf = spark.createDataFrame(pd.DataFrame(left, columns=["key", "ts"]), "key string, ts int")
    rdf = spark.createDataFrame(
        pd.DataFrame(rrows, columns=["key", "ts", "val"]), "key string, ts int, val double"
    )
    out = asof_join(ldf, rdf, on=["key"], left_ts="ts", right_ts="ts").collect()
    assert len(out) == len(left)
    for row in out:
        prior = [(ts, v) for (k, ts, v) in rrows if k == row["key"] and ts <= row["ts"]]
        if not prior:
            assert row["asof_ts"] is None and row["asof_val"] is None
        else:
            exp_ts, exp_v = max(prior)
            assert (row["asof_ts"], row["asof_val"]) == (exp_ts, exp_v)


def _union_find_components(edges):
    """Reference: driver-side union-find with min-id canonical labels."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=20,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    from wafer_defect_data_pipeline_spark.operators.graph import connected_components

    expected = _union_find_components(edges)

    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == expected


@given(
    docs=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=40), min_size=0, max_size=12
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.8]),
)
@settings(**PROP_SETTINGS)
def test_prefix_filter_jaccard_complete_vs_bruteforce(spark, docs, threshold):
    """Prefix filtering must return EXACTLY the brute-force all-pairs set —
    completeness (no pair missed) is the theorem, exactness the verify."""
    import itertools

    from wafer_defect_data_pipeline_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in prefix_filter_jaccard_pairs(
            df, "doc_id", "text", threshold=threshold, shingle_k=1
        ).collect()
    }
    expect = {}
    sets = {i: set(t.strip().lower().split()) for i, t in rows if t.strip()}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if union and round(inter / union, 6) >= threshold:
            expect[(a, b)] = round(inter / union, 6)
    assert got == expect


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 8)), min_size=0, max_size=25
    )
)
@settings(**PROP_SETTINGS)
def test_triangle_count_matches_bruteforce(spark, edges):
    import itertools

    from wafer_defect_data_pipeline_spark.operators.graph import triangle_count

    df = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(0, 0)], "id_a long, id_b long"
    )
    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    nodes = {v for e in und for v in e}
    expect = sum(
        1
        for a, b, c in itertools.combinations(sorted(nodes), 3)
        if (a, b) in und and (b, c) in und and (a, c) in und
    )
    assert triangle_count(df).first().n_triangles == expect


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)), min_size=0, max_size=20
    )
)
@settings(**PROP_SETTINGS)
def test_star_cc_matches_propagation_cc(spark, edges):
    from wafer_defect_data_pipeline_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    df = spark.createDataFrame(edges or [(0, 0)], "id_a long, id_b long")
    star = {r.id: r.component for r in connected_components_star(df).collect()}
    prop = {r.id: r.component for r in connected_components(df).collect()}
    assert star == prop


@given(
    vals=st.lists(st.integers(-1000, 1000), min_size=1, max_size=60),
    lo=st.integers(-500, 0),
    hi=st.integers(1, 500),
    n_files=st.sampled_from([2, 4]),
)
@settings(**PROP_SETTINGS)
def test_zonemap_pruned_read_equals_full_filter(spark, tmp_path_factory, vals, lo, hi, n_files):
    from pyspark.sql import functions as F

    from wafer_defect_data_pipeline_spark.operators.layout import (
        build_zonemap,
        zonemap_pruned_read,
    )

    path = str(tmp_path_factory.mktemp("zm"))
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    df.repartitionByRange(n_files, "x").write.mode("overwrite").parquet(path)
    zm = build_zonemap(spark, path, ["x"])
    pruned, kept, total = zonemap_pruned_read(spark, path, zm, "x", lo, hi)
    expect = sorted(v for v in vals if lo <= v <= hi)
    assert sorted(r.x for r in pruned.collect()) == expect
    assert 0 <= kept <= total


# --- span-family invariants (round 7) ---------------------------------------

span_doc = st.text(alphabet="ab ", min_size=0, max_size=80)


@given(docs=st.lists(span_doc, min_size=1, max_size=5))
@settings(**PROP_SETTINGS)
def test_span_family_structural_invariants(spark, docs):
    """Invariants the DuckDB oracle can't state: on ANY corpus (tiny
    alphabet forces heavy gram duplication), detected spans are per-doc
    disjoint, in-bounds, and >= min_span; strip conserves characters
    exactly (len(clean) == len(text) - n_removed with n_removed == the
    doc's span-length sum); docs without spans pass through byte-equal."""
    from wafer_defect_data_pipeline_spark.operators.dedup import (
        duplicated_spans,
        strip_duplicated_spans,
    )

    k, min_span = 4, 6
    pdf = pd.DataFrame({"doc_id": range(len(docs)), "text": docs})
    df = spark.createDataFrame(pdf.astype({"doc_id": "int64"}), "doc_id long, text string")
    spans = (
        duplicated_spans(df, "doc_id", "text", k=k, min_span=min_span)
        .orderBy("doc_id", "span_start")
        .collect()
    )
    per_doc: dict[int, list] = {}
    for r in spans:
        text = docs[r["doc_id"]]
        assert 0 <= r["span_start"] < r["span_end"] <= len(text)
        assert r["span_len"] == r["span_end"] - r["span_start"] >= min_span
        prev = per_doc.setdefault(r["doc_id"], [])
        if prev:
            assert r["span_start"] > prev[-1][1], "spans overlap or touch unsorted"
        prev.append((r["span_start"], r["span_end"]))
    out = {
        r["doc_id"]: r
        for r in strip_duplicated_spans(
            df, "doc_id", "text", k=k, min_span=min_span
        ).collect()
    }
    assert set(out) == set(range(len(docs)))
    for i, text in enumerate(docs):
        r = out[i]
        expected_removed = sum(e - s for s, e in per_doc.get(i, []))
        assert r["n_removed"] == expected_removed
        assert r["n_spans"] == len(per_doc.get(i, []))
        assert len(r["clean_text"]) == len(text) - expected_removed
        if not per_doc.get(i):
            assert r["clean_text"] == text


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    typos=st.lists(
        # (victim idx, 0-indexed typo pos inside the digit run — never the
        # tail char at index 16 that the blocking key is built from)
        st.tuples(st.integers(0, 19), st.integers(10, 15)),
        min_size=0,
        max_size=6,
        unique_by=lambda t: t[0],
    )
)
def test_entity_blocking_finds_all_tail_safe_typos(spark, typos):
    """Soundness + planted-recall for entity blocking: with a blocking key
    on the name's last character (untouched by construction), every planted
    single-substitution variant must match its base (lev=1), every reported
    pair must genuinely be within distance 2, and resolve_entities must
    partition ids so each entity is named by its minimum member."""
    from wafer_defect_data_pipeline_spark.operators.entity import (
        blocking_pairs,
        resolve_entities,
    )

    base = [(i, f"Name{i:012d}X", 1) for i in range(20)]  # 17 chars, tail 'X'
    variants = []
    for vi, (victim, pos) in enumerate(typos):
        name = base[victim][1]
        mutated = name[:pos] + "#" + name[pos + 1 :]  # '#' never in base names
        variants.append((1000 + vi, mutated, 1))
    df = spark.createDataFrame(base + variants, "id long, name string, nk int")
    pairs = blocking_pairs(
        df, "id", "name", [F.col("nk"), F.substring("name", 17, 1)], max_distance=2
    ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    for vi, (victim, _pos) in enumerate(typos):
        assert (victim, 1000 + vi) in got  # planted recall
    names = {r[0]: r[1] for r in base + variants}
    for r in pairs:  # soundness: every reported distance is real
        a, b = names[r.id_a], names[r.id_b]
        assert r.lev_dist <= 2 and (a == b) == (r.lev_dist == 0)
    ent = resolve_entities(
        df,
        "id",
        blocking_pairs(
            df, "id", "name", [F.col("nk"), F.substring("name", 17, 1)], max_distance=2
        ),
    ).collect()
    assigned = {r.id: r.entity_id for r in ent}
    assert set(assigned) == {r[0] for r in base + variants}  # total assignment
    for rid, eid in assigned.items():
        assert eid <= rid  # min-id naming
        assert assigned[eid] == eid  # the name is a member naming itself


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    old_edges=st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)), min_size=0, max_size=12
    ),
    new_edges=st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)), min_size=1, max_size=12
    ),
)
def test_merge_components_equals_full_recompute(spark, old_edges, new_edges):
    """Incremental CC maintenance (graph contraction over the standing
    assignment) must reproduce from-scratch CC over old ∪ new edges —
    component membership AND min-id naming — including new edges that
    bridge previously separate components and edges introducing ids
    history never saw."""
    from wafer_defect_data_pipeline_spark.operators.graph import (
        connected_components,
        merge_components,
    )

    old_edges = [(a, b) for a, b in old_edges if a != b]
    new_edges = [(a, b) for a, b in new_edges if a != b]
    if not new_edges:
        return
    all_ids = sorted({x for e in old_edges for x in e} | {x for x in range(15)})
    old_df = (
        spark.createDataFrame(old_edges, "id_a long, id_b long")
        if old_edges
        else spark.createDataFrame([], "id_a long, id_b long")
    )
    ids_df = spark.createDataFrame([(i,) for i in all_ids], "id long")
    assign = (
        ids_df.join(connected_components(old_df), on="id", how="left")
        .selectExpr("id", "coalesce(component, id) AS component")
        if old_edges
        else ids_df.selectExpr("id", "id AS component")
    )
    new_df = spark.createDataFrame(new_edges, "id_a long, id_b long")
    merged = {
        (r.id, r.component)
        for r in merge_components(assign, new_df).collect()
    }
    full_df = spark.createDataFrame(
        old_edges + new_edges, "id_a long, id_b long"
    )
    full = {r.id: r.component for r in connected_components(full_df).collect()}
    expect = {(i, full.get(i, i)) for i in set(all_ids) | {x for e in new_edges for x in e}}
    assert merged == expect


@settings(max_examples=200, deadline=None)
@given(
    edges=st.lists(st.tuples(st.integers(0, 30), st.integers(0, 30)), min_size=1, max_size=40),
    flip=st.lists(st.booleans(), max_size=40),
)
def test_min_label_kernel_matches_union_find(edges, flip):
    """The one-task CC kernel equals union-find on graphs with self-loops,
    duplicate edges and both orientations of one edge."""
    from wafer_defect_data_pipeline_spark.operators.graph import _min_label_kernel

    edges = edges + [(b, a) for (a, b), f in zip(edges, flip) if f]
    out = _min_label_kernel(pd.DataFrame(edges, columns=["a", "b"]))
    assert dict(zip(out["id"].tolist(), out["component"].tolist())) == _union_find_components(edges)


def test_auto_cc_branches_on_edge_gate(spark, monkeypatch):
    """Below the edge gate auto runs the kernel on the driver (a 10k-node
    chain comes back as one component named 0 from a local relation, with
    no relational loop in the plan); a gate of 0 takes the relational
    branch (a join in the plan, and a long chain still falls back to star);
    empty pairs give an empty frame; output types follow the input ids."""
    from wafer_defect_data_pipeline_spark.operators import graph

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    chain = spark.createDataFrame([(i + 1, i) for i in range(9_999)], "id_a long, id_b long")
    comp = graph.connected_components_auto(chain)
    assert plan(comp).startswith("LocalRelation") and "Join" not in plan(comp)
    got = comp.groupBy("component").agg(F.count(F.lit(1)).alias("n")).collect()
    assert [(r.component, r.n) for r in got] == [(0, 10_000)]

    empty = graph.connected_components_auto(spark.createDataFrame([], "id_a long, id_b long"))
    assert empty.collect() == []
    assert [f.dataType.simpleString() for f in empty.schema] == ["bigint", "bigint"]

    ints = spark.createDataFrame([(3, 1), (5, 5)], "id_a int, id_b int")
    small = graph.connected_components_auto(ints)
    assert [f.dataType.simpleString() for f in small.schema] == ["int", "int"]
    assert sorted(map(tuple, small.collect())) == [(1, 1), (3, 1), (5, 5)]

    monkeypatch.setattr(graph, "LOCAL_MAX_EDGES", 0)
    short = spark.createDataFrame([(i, i + 1) for i in range(63)], "id_a long, id_b long")
    relational = graph.connected_components_auto(short, probe_rounds=4, max_iter=12)
    assert "Join" in plan(relational) and "LocalRelation" not in plan(relational)
    assert {r.id: r.component for r in relational.collect()} == {i: 0 for i in range(64)}


def test_strip_by_spans_edge_cases(spark):
    """The span-strip rebuild: spans covering a whole doc give "" with the
    right counts, adjacent spans cut cleanly whatever their input order,
    and a doc without spans passes through with zeros."""
    from wafer_defect_data_pipeline_spark.operators.dedup import _strip_by_spans

    docs = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "abcdefghij"), (3, "untouched"), (4, "xyz")],
        "doc_id long, text string",
    )
    spans = spark.createDataFrame(
        [(1, 4, 10), (1, 0, 4), (2, 4, 6), (2, 2, 4), (4, 0, 3)],
        "doc_id long, span_start int, span_end int",
    )
    out = {
        r.doc_id: (r.clean_text, r.n_spans, r.n_removed)
        for r in _strip_by_spans(docs, spans, "doc_id", "text").collect()
    }
    assert out == {
        1: ("", 2, 10),
        2: ("abghij", 2, 4),
        3: ("untouched", 0, 0),
        4: ("", 1, 3),
    }
