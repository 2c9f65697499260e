"""Time registered queries, or take a per-phase job census of them.

    python tools/measure.py time NAME [NAME ...]
    python tools/measure.py census NAME [NAME ...]

Both modes run each query at ``$SPARK_GRAFT_SF_DIR`` once cold and then
``$SPARK_GRAFT_BENCH_WARM_RUNS`` (default 3) times warm, each forced with
the ``noop`` sink, in one session.

``time`` prints one JSON line per query: per run, the wall, the Spark jobs
it submitted (``statusTracker``) and the generated classes Janino compiled
(``session.codegen_compiles`` deltas).

``census`` turns the event log on under a ``scratch.run_dir`` and, for the
last warm run of each query, prints every job (phase, wall, stages, tasks,
call site), then a per-phase split: jobs, job seconds (union of the phase's
job intervals), driver gap, executor CPU, shuffle written and GC. Queries
name their phases with ``session.phase``; jobs the query submits outside
any phase are ``(untagged)`` and the sink's jobs are ``(action)``. Each
query ends with one JSON line carrying the split. A driver gap is the time
before a job in which no job of the run was running, billed to that job's
phase; the gap after the last job goes to the last job's phase, so the
phases' driver and job seconds add up to the run's wall.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from perfbench.eventlog import jobs_with_tasks, read_events, union_length  # noqa: E402
from wafer_defect_data_pipeline_spark.session import (  # noqa: E402
    PHASE_PROPERTY,
    codegen_compiles,
    get_spark,
    phase,
)

UNTAGGED = "(untagged)"
ACTION = "(action)"
#: per-phase sums taken from ``eventlog.jobs_with_tasks``
SUMS = ("exec_cpu_s", "shuffle_mib", "gc_s", "tasks")


def run_jobs(events: list[dict], group: str) -> list[dict]:
    """The jobs of job group ``group`` in submission order, each with its
    ``phase`` and ``callsite`` (the result stage's name when the job
    carries none) besides ``jobs_with_tasks``'s fields."""
    starts = {e["Job ID"]: e for e in events if e.get("Event") == "SparkListenerJobStart"}
    out = []
    for jid, job in jobs_with_tasks(events).items():
        if job["group"] != group:
            continue
        props = starts[jid].get("Properties") or {}
        stages = starts[jid].get("Stage Infos") or [{}]
        out.append({
            **job,
            "job": jid,
            "phase": props.get(PHASE_PROPERTY) or UNTAGGED,
            "callsite": (props.get("callSite.short") or stages[-1].get("Stage Name", ""))
            .replace(_REPO + os.sep, ""),
        })
    return sorted(out, key=lambda j: (j["start"], j["job"]))


def phase_split(jobs: list[dict], start: float, end: float) -> dict[str, dict]:
    """Phase -> {jobs, job_s, driver_s, exec_cpu_s, shuffle_mib, gc_s,
    tasks} for one run's ``jobs`` (submission order) over ``[start, end]``
    in epoch seconds, phases in order of first appearance."""
    phases: dict[str, dict] = {}
    spans: dict[str, list] = {}
    frontier = start
    for j in jobs:
        rec = phases.setdefault(j["phase"], {"jobs": 0, "driver_s": 0.0, **{m: 0 for m in SUMS}})
        rec["jobs"] += 1
        rec["driver_s"] += max(0.0, j["start"] - frontier)
        j_end = j["end"] if j["end"] is not None else end
        spans.setdefault(j["phase"], []).append((j["start"], j_end))
        frontier = max(frontier, j_end)
        for m in SUMS:
            rec[m] += j[m]
    if jobs:
        phases[jobs[-1]["phase"]]["driver_s"] += max(0.0, end - frontier)
    for name, rec in phases.items():
        rec["job_s"] = union_length(spans[name], start, end)
    return phases


def _runs(spark, fn, name: str, sf_dir: str, n_warm: int):
    """Run ``fn`` cold and then ``n_warm`` times warm, one job group per
    run; yield ``(index, group, start_epoch, end_epoch, compiles)``."""
    sc = spark.sparkContext
    for i in range(1 + n_warm):
        group = f"measure.{name}.{i}"
        sc.setJobGroup(group, name)
        c0 = codegen_compiles(spark)
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            with phase(spark, ACTION):
                df.write.format("noop").mode("overwrite").save()
        finally:
            t1 = time.time()
            sc.setJobGroup(None, None)
        c1 = codegen_compiles(spark)
        yield i, group, t0, t1, [c1[0] - c0[0], round(c1[1] - c0[1], 1)]


def time_mode(queries: dict, sf_dir: str, n_warm: int) -> None:
    spark = get_spark(app_name="measure-time")
    sc = spark.sparkContext
    tracker = sc._jsc.sc().statusTracker()
    for name, fn in queries.items():
        runs = []
        for _, group, t0, t1, compiles in _runs(spark, fn, name, sf_dir, n_warm):
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            runs.append({
                "wall_s": round(t1 - t0, 3),
                "jobs": len(tracker.getJobIdsForGroup(group)),
                "compiles": compiles,
            })
        warm = sorted(r["wall_s"] for r in runs[1:])
        print(json.dumps({
            "query": name,
            "cold": runs[0],
            "warm": runs[1:],
            "warm_median_s": warm[len(warm) // 2] if warm else None,
        }), flush=True)
    spark.stop()


def census_mode(queries: dict, sf_dir: str, n_warm: int) -> None:
    from wafer_defect_data_pipeline_spark.scratch import run_dir

    log_dir = run_dir("eventlog")
    os.makedirs(log_dir)
    spark = get_spark(
        app_name="measure-census",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": Path(log_dir).as_uri(),
            "spark.eventLog.rolling.enabled": "true",
            "spark.eventLog.compress": "false",
        },
    )
    last = {}
    for name, fn in queries.items():
        for run in _runs(spark, fn, name, sf_dir, n_warm):
            last[name] = run
    spark.stop()  # flushes the event log
    events = read_events(log_dir)
    for name, (i, group, t0, t1, compiles) in last.items():
        jobs = run_jobs(events, group)
        split = phase_split(jobs, t0, t1)
        print(f"=== {name} @ {sf_dir}: run {i} ({n_warm} warm after 1 cold), "
              f"{len(jobs)} jobs, {t1 - t0:.3f} s, {compiles[0]} classes compiled")
        print(f"  {'job':>5}  {'phase':<16} {'ms':>7} {'stages':>6} {'tasks':>6}  call site")
        for j in jobs:
            ms = (j["end"] - j["start"]) * 1000 if j["end"] is not None else float("nan")
            print(f"  {j['job']:>5}  {j['phase']:<16} {ms:>7.0f} {len(j['stages']):>6} "
                  f"{j['tasks']:>6}  {j['callsite']}")
        print(f"  {'phase':<16} {'jobs':>5} {'job_s':>7} {'driver_s':>8} {'exec_cpu_s':>10} "
              f"{'shuffle_mib':>11} {'gc_s':>6}")
        for ph, r in split.items():
            print(f"  {ph:<16} {r['jobs']:>5} {r['job_s']:>7.3f} {r['driver_s']:>8.3f} "
                  f"{r['exec_cpu_s']:>10.3f} {r['shuffle_mib']:>11.3f} {r['gc_s']:>6.3f}")
        print(json.dumps({
            "query": name,
            "sf_dir": sf_dir,
            "wall_s": round(t1 - t0, 3),
            "jobs": len(jobs),
            "compiles": compiles,
            "phases": {
                ph: {k: round(v, 3) if isinstance(v, float) else v for k, v in r.items()}
                for ph, r in split.items()
            },
        }), flush=True)


def main() -> None:
    modes = {"time": time_mode, "census": census_mode}
    if len(sys.argv) < 3 or sys.argv[1] not in modes:
        raise SystemExit(__doc__)
    from wafer_defect_data_pipeline_spark.plans.registry import all_queries

    registry = all_queries()
    unknown = [n for n in sys.argv[2:] if n not in registry]
    if unknown:
        raise SystemExit(f"not registered: {', '.join(unknown)}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir or not os.path.isdir(sf_dir):
        raise SystemExit(f"SPARK_GRAFT_SF_DIR must name a data directory (got {sf_dir!r})")
    n_warm = int(os.environ.get("SPARK_GRAFT_BENCH_WARM_RUNS", "3"))
    modes[sys.argv[1]]({n: registry[n] for n in sys.argv[2:]}, sf_dir, n_warm)


if __name__ == "__main__":
    main()
