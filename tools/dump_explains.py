"""Regenerate the plan-evidence artifacts: one STABLE file per query under
explains/ plus a summary table in EXPLAIN.md.

Evidence for plan-quality claims (pushdown, pruning, broadcast choice,
zero-exchange bucketed joins): run after changing any headline query's plan
shape. r13 verdict item 7: the old single-file EXPLAIN.md regenerated as an
8-9k-line diff that buried real plan changes — now each query writes
explains/<name>.txt with volatile tokens NORMALIZED (expression ids
renumbered in first-appearance order, plan_id stripped), so a plan
regression is a one-file diff, and EXPLAIN.md carries one summary row per
query (node/exchange/scan/broadcast/codegen counts). The tool exits
non-zero if ANY plan contains CartesianProduct — the standing 0-cartesian
assertion, now explicit instead of grep-implicit.

    python tools/dump_explains.py [sf_dir [name ...]]

Given query names, it rewrites only those queries' ``explains/<name>.txt``
(any registered query, listed here or not) and leaves EXPLAIN.md alone:
the before/after plan evidence for a change is then ``git diff explains/``.
"""

from __future__ import annotations

import io
import sys
import warnings
from contextlib import redirect_stdout
from pathlib import Path

warnings.filterwarnings("ignore")
_REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_REPO))

from bench import HEADLINE  # noqa: E402

# Non-bench queries whose plan shape is load-bearing for scale claims —
# dumped after the headline set so EXPLAIN.md covers them too.
EXTRA = [
    "embedding_pq_codes",
    "embedding_pq_adc_topk",
    "embedding_pq_train_step",
    "sketch_kmv_threshold_prune",
    "dedup_incremental_vs_index",
    "rag_rerank_mmr",
    "sketch_mg_heavy_hitters",
    "pack_sequences_nosplit",
    "events_drift_psi",
    "basket_part_pairs_lift",
    "events_seasonal_backtest",
    "skew_key_diagnosis",
    "text_containment_pairs",
    "similarity_ivfpq_topk",
    "pack_length_bucketing_waste",
    # round-6 additions
    "similarity_ivfpq_probe_prebuilt",
    "dedup_cluster_assignment_auto",
    "similarity_nsw_topk",
    "events_hll_weekly_users",
    "iqr_cascade_approx",
    "approx_aggregates",
    # round-7 additions (duplicated spans + jaccard auto + decontaminate
    # strip are in HEADLINE)
    "similarity_bruteforce_topk_arrow",
    "text_contamination_spans",
    "dedup_incremental_spans",
    "dedup_incremental_spans_persisted",
    "dedup_strip_spans",
    "dedup_span_stats",
    # round-8 session-3 additions (entity_clusters + training_lr_quality
    # are in HEADLINE)
    "entity_matches_blocked",
    "entity_matches_sorted",
    "entity_golden_records",
    "training_lr_scores",
    "training_importance_resample",
    "text_html_strip",
    "curation_snapshot_diff",
    "privacy_delete_propagation",
    "embedding_zca_whiten",
    "entity_incremental_clusters",
    "multimodal_audio_fingerprint_pairs",
    "multimodal_video_neardup_pairs",
    "entity_match_weights",
    "entity_match_scores",
    "graph_lpa_communities",
    # round-13 additions (similarity_ann_auto_dispatch is in HEADLINE)
    "similarity_ivf_kmeans_topk",
    "similarity_ann_dispatch_prebuilt",
    "similarity_ann_dispatch_labelfree",
    "curation_diversity_cap",
    "privacy_dp_long_doc_share",
    "curation_export_shards",
    # round-14 additions (redecide + end-to-end are in HEADLINE)
    "privacy_dp_stable_histogram",
    # round-15 additions
    "dedup_mllib_minhash_lsh",  # r14 verdict item 4: prove no BatchEvalPython
    "similarity_ann_dispatch_recall_drift",
]
import re  # noqa: E402

from wafer_defect_data_pipeline_spark.plans.registry import all_queries  # noqa: E402
from wafer_defect_data_pipeline_spark.session import get_spark  # noqa: E402


def normalize_plan(plan: str) -> str:
    """Strip run-volatile tokens so the same logical plan always writes the
    same bytes: expression ids (#123) renumbered in first-appearance order,
    plan_id= dropped, cached-RDD numbers dropped. Everything else — node
    order, PushedFilters, ReadSchema — is the plan shape we want diffs on."""
    seen: dict[str, str] = {}

    def renum(m: re.Match) -> str:
        return seen.setdefault(m.group(0), f"#{len(seen) + 1}")

    plan = re.sub(r"#\d+", renum, plan)
    plan = re.sub(r", plan_id=\d+", "", plan)
    plan = re.sub(r"\[plan_id=\d+\]", "", plan)
    plan = re.sub(r"ExistingRDD\[\d+\]", "ExistingRDD[n]", plan)
    # r15: two more volatile tokens that caused spurious per-round diffs —
    # cached-RDD numbers on localCheckpoint scans and the pid suffix of
    # process-private scratch paths
    plan = re.sub(r"MapPartitionsRDD\[\d+\]", "MapPartitionsRDD[n]", plan)
    plan = re.sub(r"_pid\d+", "_pidN", plan)
    return plan


# NOTE: no WholeStageCodegen counter — formatted AQE plans don't print
# codegen spans before execution, so it would read 0 everywhere
_COUNTERS = {
    "nodes": re.compile(r"^\(\d+\) ", re.M),
    "exchanges": re.compile(r"^\(\d+\) Exchange", re.M),
    "scans": re.compile(r"^\(\d+\) Scan parquet", re.M),
    "bcast_joins": re.compile(r"^\(\d+\) BroadcastHashJoin", re.M),
    "smj": re.compile(r"^\(\d+\) SortMergeJoin", re.M),
    "cartesian": re.compile(r"CartesianProduct"),
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    named = sys.argv[2:]
    # fail BEFORE Spark startup and BEFORE touching committed evidence: a
    # bad argument (a literal `--help` once rewrote all 91 plan files as
    # "<failed to plan>") must not cost a git-restore
    if not (Path(sf_dir) / "lineitem.parquet").exists():
        raise SystemExit(
            f"usage: python tools/dump_explains.py [sf_dir [name ...]] — "
            f"{sf_dir!r} has no lineitem.parquet"
        )
    qs = all_queries()
    unknown = [n for n in named if n not in qs]
    if unknown:
        raise SystemExit(f"not registered: {', '.join(unknown)}")
    spark = get_spark(app_name="dump-explains")
    exp_dir = _REPO / "explains"
    exp_dir.mkdir(exist_ok=True)
    # Generate everything in memory FIRST, touch the committed evidence dir
    # only after the full sweep succeeds (r14 ADVICE: the old unlink-first
    # loop left explains/ partially emptied on a mid-loop crash).
    plans: dict[str, str] = {}
    rows: list[tuple] = []
    cartesian_hits: list[str] = []
    for name in named or list(HEADLINE) + EXTRA:
        fn = qs.get(name)
        if fn is None:
            continue
        try:
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            plan = normalize_plan(buf.getvalue().rstrip())
        except Exception as exc:  # noqa: BLE001 — keep the artifact complete
            plan = f"<failed to plan: {type(exc).__name__}: {exc}>"
        plans[name] = plan
        c = {k: len(p.findall(plan)) for k, p in _COUNTERS.items()}
        if c["cartesian"]:
            cartesian_hits.append(name)
        rows.append((name, c))
    n_failed = sum(1 for p in plans.values() if p.startswith("<failed to plan"))
    if n_failed > len(plans) // 4:
        raise SystemExit(
            f"{n_failed}/{len(plans)} queries failed to plan — refusing to "
            "overwrite the committed plan evidence with failure stubs"
        )
    for name, plan in plans.items():
        (exp_dir / f"{name}.txt").write_text(plan + "\n")
    spark.stop()
    if named:
        print(f"wrote {len(plans)} files under explains/: {', '.join(plans)}")
    else:
        for old in exp_dir.glob("*.txt"):  # drop artifacts of renamed queries
            if old.stem not in plans:
                old.unlink()
        _write_summary(sf_dir, rows)
        print(f"wrote EXPLAIN.md summary + {len(rows)} files under explains/")
    if cartesian_hits:
        print(f"CARTESIAN PRODUCT in plans: {cartesian_hits}")
        sys.exit(1)


def _write_summary(sf_dir: str, rows: list[tuple]) -> None:
    out = [
        "# EXPLAIN — plan-shape summary",
        "",
        f"`explain('formatted')` at `{sf_dir}`, regenerated by",
        "`tools/dump_explains.py`. Full per-query plans live under `explains/`",
        "(one stable file each — expression ids renumbered deterministically, so",
        "a plan regression is a one-file diff). What to look for in a plan:",
        "`PushedFilters` and narrow `ReadSchema` on scans (pushdown + pruning),",
        "`BroadcastHashJoin` on small dims, no `Exchange` between bucketed scans",
        "and their join, `WholeStageCodegen` spans over the hot expressions.",
        "The tool FAILS if any plan contains CartesianProduct.",
        "",
        "| query | nodes | exchanges | parquet scans | broadcast joins | SMJ | cartesian |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, c in rows:
        out.append(
            f"| [{name}](explains/{name}.txt) | {c['nodes']} | {c['exchanges']} "
            f"| {c['scans']} | {c['bcast_joins']} | {c['smj']} "
            f"| {c['cartesian']} |"
        )
    out.append("")
    (_REPO / "EXPLAIN.md").write_text("\n".join(out))


if __name__ == "__main__":
    main()
