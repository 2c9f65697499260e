"""Tests of the measurement tooling: bench.py's regression auto-gate (r11
verdict item #7) and ``tools/measure.py``'s per-phase census.

The gate tests are pure functions — no SparkSession. The gate compares each
query's warm median against the committed-at-HEAD anchor and flags only
excursions beyond the anchor's own recorded spread band (with 15% / 50 ms
floors). The census tests check the phase split on synthetic events, the
phase property's restore on the shared session, and one end-to-end census
in a fresh process.
"""

import json
import os
import subprocess
import sys

import pytest

import bench

from .conftest import REPO_ROOT, SF_SMALL


def _anchor(queries, spread, sf=0.1):
    return {"queries": queries, "spread": spread, "sf": sf}


def test_no_anchor_flags_nothing():
    assert bench._regressions({"q1": 5.0}, None) == {}
    assert bench._regressions({"q1": 5.0}, _anchor({}, {})) == {}


def test_within_spread_band_not_flagged():
    # anchor median 1.0, observed band [0.9, 1.4] -> band width 0.5:
    # a 1.45 median is inside median+band, not a regression
    a = _anchor({"q1": 1.0}, {"q1": [0.9, 1.4]})
    assert bench._regressions({"q1": 1.45}, a) == {}


def test_beyond_spread_band_flagged_with_evidence():
    a = _anchor({"q1": 1.0}, {"q1": [0.95, 1.05]})
    out = bench._regressions({"q1": 1.6}, a)
    assert set(out) == {"q1"}
    assert out["q1"]["warm"] == 1.6
    assert out["q1"]["anchor"] == 1.0
    # band floored at 15% of the anchor median (observed width was 0.1)
    assert out["q1"]["band"] == 0.15


def test_subsecond_jitter_floored_at_50ms():
    # 20 ms -> 60 ms on a tight anchor: excess 0.04 < 0.05 floor -> clean
    a = _anchor({"q1": 0.02}, {"q1": [0.02, 0.02]})
    assert bench._regressions({"q1": 0.06}, a) == {}
    # but a real 10x blowup on the same query still flags
    assert set(bench._regressions({"q1": 0.2}, a)) == {"q1"}


def test_new_failed_and_unanchored_queries_skipped():
    a = _anchor({"q1": 1.0}, {"q1": [1.0, 1.0]})
    warm = {"q1": None, "q_new": 9.9}
    assert bench._regressions(warm, a) == {}


def test_load_anchor_rejects_sf_mismatch():
    # the committed anchor is recorded at sf0.1; an sf1 run must not compare
    anchor = bench._load_anchor(1.0)
    assert anchor is None or anchor.get("sf") == 1.0


def test_load_anchor_reads_committed_head_record():
    # Structural check against whatever anchor is committed at HEAD — skip
    # cleanly in tarball exports / shallow environments where git-show can't
    # produce it, and don't pin the sf the anchor was recorded at (r12
    # ADVICE: the old sf=0.1 assertion broke on any re-anchoring).
    try:
        raw = subprocess.run(
            ["git", "-C", bench._REPO_ROOT, "show", "HEAD:BENCH_local.json"],
            capture_output=True, text=True, timeout=30, check=True,
        ).stdout
        committed = json.loads(raw)
    except Exception:
        pytest.skip("no committed BENCH_local.json readable via git show")
    anchor = bench._load_anchor(committed.get("sf"))
    assert anchor is not None
    assert anchor["queries"] and anchor["spread"]


def test_anchor_file_routes_per_sf():
    # r13 verdict item 5: sf >= 1 scale runs anchor on their own committed
    # BENCH_sf{N}.json (the sf0.1 gate is fixed-cost-dominated for the
    # heavy families); the default sweep keeps BENCH_local.json, and an
    # sf1/sf3 run no longer clobbers the sf0.1 anchor record
    assert bench._anchor_file(0.1) == "BENCH_local.json"
    # r14 ADVICE: BENCH_local.json is STRICTLY the sf0.1 record — any other
    # sf (including sub-1 one-offs) gets its own per-sf file, so an sf0.5
    # run can't clobber the committed default anchor in the working tree
    assert bench._anchor_file(0.01) == "BENCH_sf0.01.json"
    assert bench._anchor_file(0.5) == "BENCH_sf0.5.json"
    assert bench._anchor_file(1.0) == "BENCH_sf1.json"
    assert bench._anchor_file(3.0) == "BENCH_sf3.json"
    assert bench._anchor_file(10.0) == "BENCH_sf10.json"


def test_sf1_anchor_loads_from_head_when_committed():
    try:
        a = bench._load_anchor(1.0)
    except Exception:
        pytest.skip("git show unavailable")
    if a is None:
        pytest.skip("no committed BENCH_sf1.json at HEAD")
    assert a["sf"] == 1.0
    assert a["queries"] and a["spread"]


def test_uniform_load_normalized_but_real_regression_sticks_out():
    # r12 ADVICE: a uniform host-load slowdown must not flag the whole set;
    # a genuinely regressed query must still flag THROUGH the normalization.
    qs = {f"q{i}": 1.0 for i in range(8)}
    sp = {f"q{i}": [0.95, 1.05] for i in range(8)}
    a = _anchor(qs, sp)
    # every query uniformly 1.3x slower: median ratio 1.3 cancels the
    # per-query flags, but the run is NOT a silent clean pass — the
    # applied factor is always reported, and past 1.15x (the band floor —
    # r13 ADVICE tightened this from 1.25x) the uniform slowdown itself is
    # surfaced as a suspect condition (a genuinely uniform plan/config
    # regression must leave a trace)
    warm_uniform = {n: 1.3 for n in qs}
    out_u = bench._regressions(warm_uniform, a)
    assert set(out_u) == {"__run_median_ratio"}
    assert out_u["__run_median_ratio"]["ratio"] == 1.3
    assert "uniform_slowdown_suspected" in out_u["__run_median_ratio"]
    # same load, but q3 additionally 3x slower -> only q3 flags, and the
    # applied run-level factor is reported alongside
    warm_mixed = dict(warm_uniform, q3=3.9)
    out = bench._regressions(warm_mixed, a)
    assert set(out) == {"q3", "__run_median_ratio"}
    assert out["__run_median_ratio"]["ratio"] == 1.3
    # a mildly warm run (<= 1.15x, inside the per-query band floor) reports
    # the factor without the suspect bit
    warm_mild = {n: 1.1 for n in qs}
    out_m = bench._regressions(warm_mild, a)
    assert set(out_m) == {"__run_median_ratio"}
    assert "uniform_slowdown_suspected" not in out_m["__run_median_ratio"]


def test_small_sets_never_self_normalize():
    # a 1-query run's own regression must not cancel itself via the median
    a = _anchor({"q1": 1.0}, {"q1": [0.95, 1.05]})
    assert set(bench._regressions({"q1": 1.6}, a)) == {"q1"}


# --- r14 verdict item 1: flag -> isolated retime -> machine verdict ---------


def test_retime_noise_clears_flag_and_regression_sticks():
    a = _anchor({"q_noise": 1.0, "q_real": 1.0},
                {"q_noise": [0.95, 1.05], "q_real": [0.95, 1.05]})
    flagged = bench._regressions({"q_noise": 1.6, "q_real": 1.6}, a)
    assert set(flagged) == {"q_noise", "q_real"}
    # isolated retime: q_noise comes back inside the band (host noise),
    # q_real reproduces its slowdown
    readings = {"q_noise": (1.2, [1.02, 1.05, 1.0]), "q_real": (1.7, [1.62, 1.58, 1.6])}
    retimes = bench._adjudicate_flags(flagged, a, lambda n: readings[n])
    assert retimes["q_noise"]["verdict"] == "noise"
    assert retimes["q_noise"]["median"] == 1.02
    assert retimes["q_noise"]["runs"] == [1.02, 1.05, 1.0]
    assert retimes["q_real"]["verdict"] == "regressed"
    assert retimes["q_real"]["anchor"] == 1.0
    # the final gate count (what main() puts in regressed_n) keeps only
    # what the retime could not clear
    final = {n for n in flagged
             if not n.startswith("__") and retimes.get(n, {}).get("verdict") != "noise"}
    assert final == {"q_real"}


def test_retime_budget_exhaustion_stays_regressed():
    a = _anchor({"q1": 1.0}, {"q1": [0.95, 1.05]})
    flagged = bench._regressions({"q1": 5.0}, a)
    retimes = bench._adjudicate_flags(flagged, a, lambda n: (1.0, [1.0]), budget_s=-1.0)
    assert retimes["q1"]["verdict"] == "unadjudicated"
    assert "skipped" in retimes["q1"]


def test_retime_error_is_isolated_and_unadjudicated():
    a = _anchor({"q1": 1.0, "q2": 1.0}, {"q1": [1.0, 1.0], "q2": [1.0, 1.0]})
    flagged = bench._regressions({"q1": 5.0, "q2": 5.0}, a)

    def boom_or_ok(n):
        if n == "q1":
            raise RuntimeError("executor lost")
        return (1.0, [0.9, 1.0, 1.1])

    retimes = bench._adjudicate_flags(flagged, a, boom_or_ok)
    assert retimes["q1"]["verdict"] == "unadjudicated"
    assert "executor lost" in retimes["q1"]["error"]
    assert retimes["q2"]["verdict"] == "noise"


def test_retime_records_load_when_probe_given():
    a = _anchor({"q1": 1.0}, {"q1": [0.95, 1.05]})
    flagged = bench._regressions({"q1": 5.0}, a)
    retimes = bench._adjudicate_flags(
        flagged, a, lambda n: (1.0, [1.0, 1.0, 1.0]), load_fn=lambda: 0.42
    )
    assert retimes["q1"]["load_1min"] == 0.42
    assert retimes["q1"]["verdict"] == "noise"


def test_anchor_file_keys_on_sf_and_cpus():
    # a c8 sweep writes its own record and can't overwrite the c32 anchor
    assert bench._anchor_file(0.1, 8) == "BENCH_local_c8.json"
    assert bench._anchor_file(0.1, 32) == "BENCH_local_c32.json"
    assert bench._anchor_file(1.0, 8) == "BENCH_sf1_c8.json"
    assert bench._anchor_file(0.5, 4) == "BENCH_sf0.5_c4.json"


@pytest.mark.parametrize(
    "recorded, asked, loads",
    [
        ({"sf": 0.1, "cpus": 8}, (0.1, 8), True),
        ({"sf": 0.1, "cpus": 32}, (0.1, 8), False),  # cpu count differs
        ({"sf": 0.1}, (0.1, 8), False),  # record without cpus
        ({"sf": 1.0, "cpus": 8}, (0.1, 8), False),  # sf differs
    ],
)
def test_load_anchor_needs_same_sf_and_cpus(monkeypatch, recorded, asked, loads):
    asked_paths = []

    def fake_git_show(cmd, **kwargs):
        asked_paths.append(cmd[-1])
        record = dict(recorded, queries={"q1": 1.0}, spread={"q1": [1.0, 1.0]})
        return subprocess.CompletedProcess(cmd, 0, stdout=json.dumps(record))

    monkeypatch.setattr(subprocess, "run", fake_git_show)
    anchor = bench._load_anchor(*asked)
    assert asked_paths == [f"HEAD:{bench._anchor_file(*asked)}"]
    assert (anchor is not None) == loads


# --- tools/measure.py: phases tagged by the queries ------------------------

def _job_events(jid, start, end, phase=None, group="g", cpu_s=0.0, gc_s=0.0, shuffle_mib=0.0):
    props = {"spark.jobGroup.id": group}
    if phase is not None:
        props["wdps.phase"] = phase
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start * 1000,
         "Stage IDs": [jid], "Stage Infos": [{"Stage Name": f"count at q.py:{jid}"}],
         "Properties": props},
        {"Event": "SparkListenerTaskEnd", "Stage ID": jid,
         "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor CPU Time": cpu_s * 1e9, "JVM GC Time": gc_s * 1e3,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_mib * 2**20}}},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end * 1000},
    ]


def test_census_phase_split_on_synthetic_events():
    from tools.measure import UNTAGGED, phase_split, run_jobs

    events = (
        _job_events(1, 101.0, 102.0, "a", cpu_s=0.5, gc_s=0.02, shuffle_mib=1.0)
        + _job_events(2, 101.5, 103.0, "a", cpu_s=0.25)  # overlaps job 1
        + _job_events(3, 104.0, 105.0)  # no phase
        + _job_events(4, 105.0, 106.0, "a", group="other")  # another run
        + _job_events(5, 107.0, 108.0, "b", cpu_s=1.0)
    )
    jobs = run_jobs(events, "g")
    assert [j["job"] for j in jobs] == [1, 2, 3, 5]
    assert jobs[0]["callsite"] == "count at q.py:1"
    split = phase_split(jobs, 100.0, 110.0)
    assert list(split) == ["a", UNTAGGED, "b"]
    a, untagged, b = split.values()
    assert (a["jobs"], a["job_s"], a["driver_s"], a["tasks"]) == (2, 2.0, 1.0, 2)
    assert (a["exec_cpu_s"], a["gc_s"], a["shuffle_mib"]) == (0.75, 0.02, 1.0)
    assert (untagged["jobs"], untagged["job_s"], untagged["driver_s"]) == (1, 1.0, 1.0)
    # the gap after the run's last job is billed to that job's phase
    assert (b["jobs"], b["job_s"], b["driver_s"], b["exec_cpu_s"]) == (1, 1.0, 4.0, 1.0)
    assert sum(r["jobs"] for r in split.values()) == len(jobs)
    assert sum(r["job_s"] + r["driver_s"] for r in split.values()) == 10.0


def test_phase_restores_the_callers_value(spark, sf_small, monkeypatch):
    from wafer_defect_data_pipeline_spark.operators import dedup
    from wafer_defect_data_pipeline_spark.plans.registry import all_queries
    from wafer_defect_data_pipeline_spark.session import PHASE_PROPERTY

    sc = spark.sparkContext
    query = all_queries()["curation_end_to_end"]
    assert sc.getLocalProperty(PHASE_PROPERTY) is None
    query(spark, sf_small)
    assert sc.getLocalProperty(PHASE_PROPERTY) is None

    seen = []

    def failing_dedup(*args, **kwargs):
        seen.append(sc.getLocalProperty(PHASE_PROPERTY))
        raise RuntimeError("dedup failed")

    monkeypatch.setattr(dedup, "exact_dedup", failing_dedup)
    sc.setLocalProperty(PHASE_PROPERTY, "caller")
    try:
        with pytest.raises(RuntimeError, match="dedup failed"):
            query(spark, sf_small)
        assert seen == ["exact_dedup"]
        assert sc.getLocalProperty(PHASE_PROPERTY) == "caller"
    finally:
        sc.setLocalProperty(PHASE_PROPERTY, None)


def test_measure_census_splits_curation_by_stage():
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=SF_SMALL,
        SPARK_GRAFT_BENCH_WARM_RUNS="1",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, str(REPO_ROOT / "tools" / "measure.py"), "census", "curation_end_to_end"],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    rec = json.loads(proc.stdout.strip().splitlines()[-1])
    stages = {"input", "exact_dedup", "cluster_cap", "quality_gate", "decontaminate",
              "token_pack", "shard_export"}
    assert stages <= set(rec["phases"])
    assert sum(p["jobs"] for p in rec["phases"].values()) == rec["jobs"] > 0
