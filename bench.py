"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "headline_total", "value": N, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

Each query is forced end-to-end with the ``noop`` sink — the full plan
executes on the executors (scan → shuffle → agg) but nothing is collected
to the driver, so the number measures the engine, not result transfer.
A tiny warm-up query runs first so JVM/codegen startup isn't billed to the
first headline entry.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

_REPO_ROOT = str(Path(__file__).resolve().parent)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from wafer_defect_data_pipeline_spark.plans.registry import all_queries  # noqa: E402
from wafer_defect_data_pipeline_spark.session import codegen_compiles, get_spark  # noqa: E402

# One representative per operator family (SURVEY.md §2 / §2.9): relational
# agg + joins + window/top-k, the reference's flagship IQR cascade, the full
# wafer pipeline, event-time windows, dedup, similarity, text analysis.
HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q3_top_orders",
    "tpch_q5_regional_revenue",
    "window_topk_per_group",
    "flagship_iqr_summary",
    "wafer_pipeline_on_lineitem",
    "events_tumbling_window",
    "events_sessionization",
    "dedup_exact",
    "dedup_minhash_lsh_pairs",
    "dedup_cluster_assignment",
    "similarity_bruteforce_topk",
    "text_quality_scores",
    "text_repetition_scores",
    "merge_upsert",
    # round-2 training-data-governance / search / timeseries families
    "split_leakage_audit",
    "semantic_dedup_keep",
    "text_bm25_topk",
    "events_gapfill_ffill",
    # round-3 additions: Variant path, exact-oracle stateful streaming,
    # custom Python DataSource
    "json_variant_agg",
    "events_stateful_profile_exact",
    "python_datasource_scan",
    # round-4 additions: executed multimodal codec paths (stdlib P6 / RIFF)
    "multimodal_image_decode_stats",
    "multimodal_audio_decode_stats",
    # round-4 session-2 additions: exact set-similarity join, data skipping,
    # runtime Bloom join filter, distributed covariance, relational sketches,
    # degree-oriented triangles
    "dedup_prefix_jaccard_pairs",
    "zonemap_pruned_agg",
    "bloom_runtime_filter_join",
    "embedding_covariance",
    "sketch_cms_frequency",
    "graph_triangle_count",
    # round-5 addition: the O(log n) large-star/small-star CC — the 100 TB
    # path whose constant factors BENCH should track alongside the
    # short-chain propagation variant above
    "dedup_cluster_assignment_star",
    # round-7 additions: duplicated-span detection (ExactSubstr k-gram pass),
    # the density-adaptive exact/LSH set-similarity dispatch, and
    # decontaminate-by-surgery (broadcast bench grams + span cut)
    "dedup_duplicated_spans",
    "dedup_jaccard_pairs_auto",
    "text_decontaminate_strip",
    # round-8 addition: gram-index merge + day-2 probe (the daily-crawl
    # admit loop — index build, batch explode, merge, probe in one query)
    "dedup_incremental_spans_merged",
    # round-8 session-2 additions: record linkage end-to-end (block +
    # Levenshtein verify + transitive closure) and distributed
    # quality-classifier training (one agg per GD step)
    "entity_clusters",
    "training_lr_quality",
    "multimodal_image_phash_pairs",
    # round-12 addition: recall-robust IVF (self-recall-derived probe count
    # — the probe curve job + widened search is the cost being tracked)
    "similarity_ivf_auto_topk",
    # round-13 addition: the IVF vs graph-ANN priced dispatch (probe +
    # decision + the NSW branch it takes on this corpus)
    "similarity_ann_auto_dispatch",
    # round-14 additions: the six-stage composed curation pipeline (exact
    # dedup -> cluster+cap -> quality -> decontaminate -> pack -> shards)
    # and the dispatch staleness contract (two staged snapshots, two
    # decision probes, versioned persistence, both serving branches)
    "curation_end_to_end",
    "similarity_ann_dispatch_redecide",
]


# Correctness-baseline paths retired from the sf>=1 HEADLINE runs (r8 #7 /
# r9 verdict: dedup_prefix_jaccard_pairs is the EXACT AllPairs verification
# baseline — 121 s of the 580 s sf3 total for a path whose documented scale
# answer is the priced auto dispatcher, which runs the same workload via its
# LSH fallback and stays in the set). They remain REGISTERED and
# driver-checked at sf0.01; only the scale-series timing set drops them.
SCALE_RETIRED = {"dedup_prefix_jaccard_pairs"}


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else float("nan")


def _anchor_file(sf: float, cpus: int | None = None) -> str:
    """Per-(sf, cpus) anchor record: the default sf0.1 sweep anchors on
    BENCH_local_c{cpus}.json; sf >= 1 scale runs anchor on their own
    committed BENCH_sf{N}_c{cpus}.json (r13 verdict item 5: at sf0.1 the
    heavy families are 60-90% fixed per-job cost, so the sf0.1 gate can't
    detect a real 2x regression in their compute term — the sf1 anchor
    can). Writing the full record to the same per-sf file also stops an
    sf1/sf3 sweep from clobbering the committed sf0.1 anchor (the r11
    restore-dance), and the cpu suffix stops a c8 sweep from overwriting
    the c32 anchor. Without ``cpus`` the name is the older unkeyed
    record's (BENCH_local.json)."""
    # %g keeps non-integer sfs distinct (sf1.5 -> BENCH_sf1.5.json) instead
    # of int()-truncating onto the sf1 anchor. BENCH_local* is reserved
    # STRICTLY for the default sf0.1 sweep (r14 ADVICE: routing every sub-1
    # sf there let a one-off sf0.5 run clobber the committed sf0.1 record).
    base = "BENCH_local" if sf == 0.1 else f"BENCH_sf{sf:g}"
    return f"{base}_c{cpus}.json" if cpus else f"{base}.json"


def _load_anchor(sf: float, cpus: int | None = None) -> dict | None:
    """Committed per-query anchor for the regression gate (r11 verdict #7).

    Reads the per-(sf, cpus) anchor file from git HEAD — NOT the working
    tree — so a second bench run in the same session compares against the
    committed record, not its own first run. Only used when the anchor was
    recorded at the same sf AND the same cpu count (comparing sf0.1 medians
    to an sf1 run, or 8-core medians to a 32-core run, is meaningless): an
    anchor whose ``cpus`` is missing or differs is None.
    """
    import subprocess

    try:
        raw = subprocess.run(
            ["git", "-C", _REPO_ROOT, "show", f"HEAD:{_anchor_file(sf, cpus)}"],
            capture_output=True, text=True, timeout=30, check=True,
        ).stdout
        anchor = json.loads(raw)
    except Exception:  # noqa: BLE001 — no anchor is fine (fresh clone)
        return None
    if anchor.get("sf") != sf or anchor.get("cpus") != cpus:
        return None
    return anchor


def _band(anchor: dict | None, name: str) -> float | None:
    """The per-query tolerance band shared by the gate flag and the retime
    verdict: max(anchor's own recorded warm spread, 15% of its median,
    50 ms). None when the anchor has no usable record for ``name``."""
    if not anchor:
        return None
    a = (anchor.get("queries") or {}).get(name)
    sp = (anchor.get("spread") or {}).get(name)
    if a is None or not sp:
        return None
    return max(sp[1] - sp[0], 0.15 * a, 0.05)


def _retime_verdict(median: float, anchor_median: float, band: float) -> str:
    """Isolated re-time adjudication: NO run-level normalization — the
    re-time ran alone, so its median either clears the anchor band
    (``noise``: the sweep flag was host contention) or it doesn't
    (``regressed``: the slowdown reproduces in isolation)."""
    return "regressed" if median > anchor_median + band else "noise"


def _adjudicate_flags(
    flagged: dict,
    anchor: dict | None,
    retime_fn,
    budget_s: float = 900.0,
    load_fn=None,
) -> dict[str, dict]:
    """Machine-checkable adjudication of gate flags (r14 verdict item 1).

    r14's seven rotating flags were adjudicated in PROSE ("re-timed
    isolated, attributed to host noise") — readings the next round could
    only trust, not check. Now every real flagged query is automatically
    re-timed in isolation (1 cold + 3 warm, sequential, nothing else
    running in this process) and the readings land IN the committed per-sf
    bench record under ``retimes``; the compact line's final
    ``regressed_n`` counts re-time verdicts, not sweep flags.

    ``retime_fn(name) -> (cold, [warm...])`` is injected so the
    flag→retime→verdict flow unit-tests without Spark. A query whose
    re-time would blow the ``budget_s`` wall budget is recorded as
    ``unadjudicated`` and stays counted as regressed — a flag is never
    cleared without evidence."""
    retimes: dict[str, dict] = {}
    spent = 0.0
    for name in sorted(n for n in flagged if not n.startswith("__")):
        a = (anchor or {}).get("queries", {}).get(name)
        band = _band(anchor, name)
        if a is None or band is None:  # pragma: no cover — flag implies both
            continue
        if spent > budget_s:
            retimes[name] = {
                "skipped": f"retime budget {budget_s}s exhausted",
                "verdict": "unadjudicated",
            }
            continue
        entry: dict = {}
        if load_fn is not None:
            entry["load_1min"] = round(load_fn(), 2)
        t0 = time.perf_counter()
        try:
            cold, runs = retime_fn(name)
        except Exception as exc:  # noqa: BLE001 — isolate, record, continue
            retimes[name] = {
                "error": f"{type(exc).__name__}: {exc}"[:200],
                "verdict": "unadjudicated",
            }
            continue
        spent += time.perf_counter() - t0
        med = sorted(runs)[len(runs) // 2]
        entry.update(
            {
                "cold": cold,
                "runs": runs,
                "median": med,
                "anchor": a,
                "band": round(band, 3),
                "verdict": _retime_verdict(med, a, band),
            }
        )
        retimes[name] = entry
    return retimes


def _regressions(
    warm: dict[str, float | None], anchor: dict | None
) -> dict[str, dict[str, float]]:
    """Per-query regression verdicts against the committed anchor.

    Rule (r11 verdict #7): a query regresses when its warm MEDIAN exceeds
    the anchor's median by more than that query's OWN recorded spread band
    (anchor max - min). Floors of 15% and 50 ms keep sub-noise jitter on
    sub-second queries from flagging — the gate exists to catch real plan
    regressions, not scheduler wobble.

    Run-level load normalization (r12 ADVICE): a busy host slows EVERY
    query by a roughly uniform factor, and without correction that factor
    flags half the set at once (BENCH_r12: uniform ~18% -> 19/39 flagged),
    drowning the signal the gate exists for. When the run has enough
    anchored queries (>= 5) and its MEDIAN warm/anchor ratio exceeds 1.0,
    each query's warm median is divided by that run-level median before
    the band test — a real plan regression still sticks out of the
    normalized field, while uniform host load cancels. The applied factor
    is reported as ``__run_median_ratio`` so a normalized reading is
    self-labeling.
    """
    if not anchor:
        return {}
    a_warm = anchor.get("queries") or {}
    ratios = [
        v / a_warm[n]
        for n, v in warm.items()
        if v is not None and a_warm.get(n)
    ]
    med_ratio = sorted(ratios)[len(ratios) // 2] if ratios else 1.0
    # normalize only uniformly-SLOW runs with a meaningful sample: a 1-2
    # query set must never self-normalize its own regression away, and a
    # uniformly-fast host needs no correction (bands already absorb it)
    norm = med_ratio if (len(ratios) >= 5 and med_ratio > 1.0) else 1.0
    flagged: dict[str, dict[str, float]] = {}
    for name, v in warm.items():
        a = a_warm.get(name)
        band = _band(anchor, name)
        if v is None or a is None or band is None:
            continue
        if v / norm > a + band:
            flagged[name] = {"warm": v, "anchor": a, "band": round(band, 3)}
    # the applied factor is ALWAYS reported when normalization ran, flags
    # or not — a run whose every query is uniformly slower must not read
    # as a clean pass with no trace (the gate would otherwise silently
    # absorb a genuinely uniform plan/config regression); past 1.15x — the
    # per-query band floor, so anything normalization can hide that the
    # bands wouldn't also absorb (r13 ADVICE: the old 1.25x cutoff left a
    # real 15-25% across-the-board regression with only the ratio
    # breadcrumb) — the uniform slowdown itself is surfaced as a suspect
    # condition requiring an idle-host re-run to adjudicate.
    if norm > 1.0:
        flagged["__run_median_ratio"] = {"ratio": round(norm, 3)}
        if norm > 1.15:
            flagged["__run_median_ratio"]["uniform_slowdown_suspected"] = 1.0
    return flagged


def _testdata_canary(sf_dir: str) -> str | None:
    """Cheap pre-flight: pin the physical type of events.ts (the column whose
    silent regeneration broke round 2). Returns an error string instead of
    raising — the bench must emit its JSON line no matter what."""
    try:
        import pyarrow.parquet as pq

        t = str(pq.read_schema(os.path.join(sf_dir, "events.parquet")).field("ts").type)
        if t not in ("timestamp[us]", "timestamp[ns]"):
            return f"TESTDATA DRIFT: events.ts footer type is {t!r}"
    except Exception as exc:  # noqa: BLE001
        return f"canary unreadable: {type(exc).__name__}: {exc}"
    return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="wafer-pipeline-bench")
    registry = all_queries()
    canary = _testdata_canary(sf_dir)

    # warm-up: JVM classloading + codegen + parquet footer reads
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    # four runs per query: the first pays one-time costs (codegen,
    # classloading, MLlib init) and is recorded as "cold"; the next THREE
    # are steady-state and "queries"/"value" report their MEDIAN, with the
    # min/max spread kept alongside (r10 verdict process note: three rounds
    # burned effort re-litigating one-shot readings as host noise — the
    # harness now self-adjudicates by recording the spread it observed).
    # Per-query isolation: one failing query must never erase the round's
    # entire performance record (r2 lesson — a single exception at query 8
    # left BENCH_r02.json with rc=1 and no timings). Failures are reported
    # as named entries in "errors", their timings as null, and the process
    # always exits 0 with one parseable JSON line.
    sf = _sf_from_dir(sf_dir)
    cpus = spark.sparkContext.defaultParallelism
    n_warm = int(os.environ.get("SPARK_GRAFT_BENCH_WARM_RUNS", "3"))
    headline = [n for n in HEADLINE if not (sf >= 1 and n in SCALE_RETIRED)]
    cold: dict[str, float | None] = {}
    warm: dict[str, float | None] = {}
    warm_runs: dict[str, list[float]] = {}
    spread: dict[str, list[float] | None] = {}
    codegen: dict[str, dict] = {}
    errors: dict[str, str] = {}
    for name in headline:
        fn = registry.get(name)
        if fn is None:
            continue
        times: list[float] = []
        compiles = [codegen_compiles(spark)]
        try:
            for i in range(1 + n_warm):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                t = round(time.perf_counter() - t0, 3)
                if i == 0:
                    cold[name] = t
                    compiles.append(codegen_compiles(spark))
                else:
                    times.append(t)
        except Exception as exc:  # noqa: BLE001 — isolate, record, continue
            cold.setdefault(name, None)
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
        if len(compiles) == 2:
            (n0, ms0), (n1, ms1) = compiles
            codegen[name] = {"cold": [n1 - n0, round(ms1 - ms0, 1)], "warm": codegen_compiles(spark)[0] - n1}
        if times:
            warm_runs[name] = times
            warm[name] = sorted(times)[len(times) // 2]  # median
            spread[name] = [min(times), max(times)]
        else:
            warm[name] = None
            spread[name] = None

    total = round(sum(v for v in warm.values() if v is not None), 3)
    anchor = _load_anchor(sf, cpus)
    regressed = _regressions(warm, anchor)

    # r14 verdict item 1: adjudicate every real gate flag with an isolated
    # re-time recorded in this file, so the committed record carries its
    # own verdict instead of prose. One idle settle before the loop (the
    # sweep's own load lingers in the 1-min average), then per-query
    # 1 cold + 3 warm, sequential.
    retimes: dict[str, dict] = {}
    real_flags = {n: d for n, d in regressed.items() if not n.startswith("__")}
    if real_flags:
        # the sweep itself leaves 1-min load ~3-4 for minutes, so a lax bar
        # (the old 4.0) never waits and the retimes measure the sweep's own
        # heat — the r15 sf0.1 run recorded all four retimes at load 3.5.
        # Load decays with a ~60 s time constant, so 1.0 is reachable well
        # inside the wait budget on an otherwise idle host.
        load_max = float(os.environ.get("SPARK_GRAFT_RETIME_LOAD_MAX", "1.0"))
        idle_budget = float(os.environ.get("SPARK_GRAFT_RETIME_IDLE_WAIT", "300"))
        waited = 0.0
        while os.getloadavg()[0] > load_max and waited < idle_budget:
            time.sleep(5)
            waited += 5
        retimes["__idle"] = {
            "load_1min_at_start": round(os.getloadavg()[0], 2),
            "idle_waited_s": waited,
            "load_max": load_max,
        }

        def _retime_one(name: str) -> tuple[float, list[float]]:
            fn = registry[name]
            runs: list[float] = []
            for _ in range(4):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                runs.append(round(time.perf_counter() - t0, 3))
            return runs[0], runs[1:]

        retimes.update(
            _adjudicate_flags(
                real_flags,
                anchor,
                _retime_one,
                budget_s=float(os.environ.get("SPARK_GRAFT_RETIME_BUDGET_S", "900")),
                load_fn=lambda: os.getloadavg()[0],
            )
        )

    out = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": warm,
        "cold": cold,
        "warm_runs": warm_runs,
        "spread": spread,
        "warm_protocol": f"median of {n_warm} warm runs after 1 cold run",
        "regressed": regressed,
        "regression_rule": "warm median > committed HEAD anchor median + "
        "max(anchor spread band, 15%, 50ms); same-(sf, cpus) anchors only",
        "retimes": retimes,
        "codegen": codegen,
        "codegen_rule": "per query: cold = [classes Janino compiled, ms] in "
        "the cold run; warm = classes compiled over the warm runs (0 when the "
        "codegen cache holds the query's classes)",
        "retime_rule": "each sweep flag re-timed isolated (1 cold + 3 warm "
        "after idle settle); final regressed_n counts retime verdicts — "
        "'noise' clears the flag, 'regressed'/'unadjudicated' keep it",
        "sf": _sf_from_dir(sf_dir),
        "cpus": cpus,
    }
    if canary:
        errors["__testdata_canary"] = canary
    if errors:
        out["errors"] = errors
    # Full record (warm + cold + errors, 3-decimal) goes to a file; stdout
    # gets ONE COMPACT line. The driver archives only the last ~2000 chars
    # of stdout, so the full dict printed inline front-truncates and the
    # official record loses its head (BENCH_r02/r04-r07 all have
    # "parsed": null). Compact = totals first, warm-only, 2-decimal — ~1.3k
    # chars for the 34-query headline set, safely under the capture window.
    with open(os.path.join(_REPO_ROOT, _anchor_file(sf, cpus)), "w") as f:
        json.dump(out, f, indent=1)
    ratios = [
        mx / mn for mn, mx in (v for v in spread.values() if v) if mn > 0
    ]
    compact = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        # worst observed warm max/min ratio this run — a reading is only
        # suspicious if it exceeds what the run itself showed as host noise
        "spread_max_ratio": round(max(ratios), 2) if ratios else None,
        "sf": _sf_from_dir(sf_dir),
        "cpus": cpus,
        "queries": {
            n: (round(v, 2) if v is not None else None) for n, v in warm.items()
        },
        "full": _anchor_file(sf, cpus),
    }
    if compact["spread_max_ratio"] is not None and compact["spread_max_ratio"] > 1.5:
        # self-label hot-host runs: when one query's own 3 warm runs spread
        # past 1.5x, totals from this run are host noise, not plan data
        compact["unreliable"] = f"spread_max_ratio {compact['spread_max_ratio']} > 1.5"
    # final verdict per flag comes from the ISOLATED RE-TIME, not the noisy
    # sweep: a flag whose retime median clears the band is noise and drops
    # out of regressed_n; anything the retime couldn't clear (regressed /
    # unadjudicated) stays counted (r14 verdict item 1)
    real_regressed = {
        n: d
        for n, d in regressed.items()
        if not n.startswith("__")
        and retimes.get(n, {}).get("verdict") != "noise"
    }
    n_noise = sum(
        1 for n, r in retimes.items()
        if not n.startswith("__") and r.get("verdict") == "noise"
    )
    meta = regressed.get("__run_median_ratio")
    if meta:
        compact["run_median_ratio"] = meta["ratio"]
        if "uniform_slowdown_suspected" in meta:
            compact["uniform_slowdown_suspected"] = True
    warm_compiling = sorted(n for n, c in codegen.items() if c["warm"])
    if warm_compiling:
        compact["warm_compiles"] = "; ".join(warm_compiling)[:200]
    if real_flags:
        compact["flags_n"] = len(real_flags)
        compact["retime_noise_n"] = n_noise
    if real_regressed:
        compact["regressed_n"] = len(real_regressed)
        compact["regressed"] = "; ".join(
            f"{n} {d['warm']}s vs {d['anchor']}s"
            + (
                f" (retime {retimes[n]['median']}s)"
                if retimes.get(n, {}).get("median") is not None
                else ""
            )
            for n, d in sorted(real_regressed.items())
        )[:200]
    if errors:
        compact["errors_n"] = len(errors)
        compact["errors"] = "; ".join(sorted(errors))[:200]
    line = json.dumps(compact)
    if len(line) > 1900:  # belt-and-braces: never exceed the capture window
        compact["queries"] = {n.split("_")[-1][:8] + str(i): v for i, (n, v) in enumerate(compact["queries"].items())}
        line = json.dumps(compact)
    print(line)
    # unconditional ledger append — in the tool, not a wrapper (r8 #3)
    from wafer_defect_data_pipeline_spark.ledger import record_run

    n_timed = sum(1 for v in warm.values() if v is not None)
    record_run(
        "bench",
        f"headline_total {total}s warm over {n_timed} queries at sf{sf}"
        + (
            f"; {len(real_flags)} flagged, {n_noise} cleared by retime, "
            f"{len(real_regressed)} regressed vs HEAD anchor"
            if real_flags
            else ""
        )
        + (f"; {len(errors)} errors: {'; '.join(sorted(errors))[:200]}" if errors else ""),
    )
    for name, r in sorted(retimes.items()):
        if name.startswith("__"):
            continue
        record_run(
            "bench-retime",
            f"{name} at sf{sf}: "
            + (
                f"median {r['median']}s vs anchor {r['anchor']}s "
                f"band {r['band']} -> {r['verdict']} (runs {r['runs']})"
                if "median" in r
                else f"{r['verdict']}: {r.get('skipped') or r.get('error')}"
            ),
        )
    spark.stop()


if __name__ == "__main__":
    main()
