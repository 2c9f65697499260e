"""One fresh benchmark process (started by ``run.py``, never by hand).

Modes:

- ``run``: set up, then run the workload's entry call as a closed loop with
  one client — the first execution, one warm-up execution, then steady ones
  until ``--seconds`` have passed (at least one) — checking the output of
  every execution.
- ``trace``: with the Spark event log on, run the first listed workload's
  entry call untraced (first, warm-up and steady execution) and then its
  traced layer chain, then the traced chain of every other listed workload;
  stop the session and attribute the event log's jobs and tasks to the
  spans.

The set-up clock starts at ``PERFBENCH_T0``, the parent's wall clock just
before it started this process, so interpreter start and imports count.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import eventlog  # noqa: E402
import workloads  # noqa: E402


def start_session(tmp: str, app: str, eventlog_dir: str | None):
    from wafer_defect_data_pipeline_spark.session import get_spark

    # keep the JVM's temp files (and its perf-data file, which HotSpot always
    # puts under /tmp) out of /tmp
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": Path(eventlog_dir).as_uri(),
            "spark.eventLog.rolling.enabled": "true",
            "spark.eventLog.compress": "false",
        })
    t = time.time()
    spark = get_spark(app_name=app, extra_conf=conf)
    get_spark_s = time.time() - t
    spark.range(1).count()
    return spark, get_spark_s


def timed_execution(workload: str, spark, inputs: dict, out_dir: str) -> dict:
    t = time.perf_counter()
    try:
        produced = workloads.execute(workload, spark, inputs, out_dir)
        wall = time.perf_counter() - t
        chk = workloads.check(workload, inputs, produced)
    except Exception as e:  # noqa: BLE001 — a failed execution is a data point
        wall = time.perf_counter() - t
        chk = {"ok": False, "error": f"{type(e).__name__}: {e}"[:400]}
        traceback.print_exc()
    return {"wall_s": wall, "check": chk}


def run_loop(workload, spark, inputs, out_dir, seconds) -> list[dict]:
    # the second execution still compiles hot paths (one sample ran 26.1,
    # 14.6, 10.9, 10.8, 11.0 s), so steady executions start at the third
    executions = []
    start = time.time()
    while len(executions) < 3 or time.time() - start < seconds:
        executions.append(timed_execution(workload, spark, inputs, out_dir))
    return executions


def trace_all(spark, names, inputs, out_dir, jvm_pid) -> dict:
    sc = spark.sparkContext
    spans: list[dict] = []
    current = {}

    @contextlib.contextmanager
    def span(name):
        sc.setJobGroup(name, name, False)
        cpu0 = eventlog.python_worker_cpu(jvm_pid)
        t = time.time()
        try:
            yield
        finally:
            end = time.time()
            spans.append({
                "name": name,
                "workload": current["w"],
                "start": t,
                "end": end,
                "pyworker_cpu_s": eventlog.python_worker_cpu(jvm_pid) - cpu0,
            })
            sc.setJobGroup("perfbench.untraced", "untraced", False)

    per_workload = {}
    sc.setJobGroup("perfbench.untraced", "untraced", False)
    for i, w in enumerate(names):
        current["w"] = w
        wdir = f"{out_dir}/{w}"
        rec = {}
        if i == 0:
            # the selected workload: first, warm-up and steady untraced
            rec["untraced"] = run_loop(w, spark, inputs[w], wdir, 0)
        t = time.time()
        try:
            if w == "wafer_csv_etl":
                produced, ratios = workloads.trace_wafer(spark, inputs[w], f"{wdir}/traced", span)
            else:
                produced, ratios = workloads.trace_curation(spark, inputs[w], f"{wdir}/traced_shards", span)
            traced_s = time.time() - t
            chk = workloads.check(w, inputs[w], produced)
        except Exception as e:  # noqa: BLE001
            traced_s, ratios = time.time() - t, {}
            chk = {"ok": False, "error": f"{type(e).__name__}: {e}"[:400]}
            traceback.print_exc()
        rec.update(traced={"wall_s": traced_s, "check": chk}, ratios=ratios)
        if i == 0:
            rec["trace_overhead_s"] = traced_s - rec["untraced"][-1]["wall_s"]
        per_workload[w] = rec
    return {"order": names, "spans": spans, "workloads": per_workload}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=("run", "trace"), required=True)
    ap.add_argument("--workloads", required=True, help="comma-separated, in run order")
    ap.add_argument("--inputs", required=True, help="JSON file: workload -> input record")
    ap.add_argument("--seconds", type=float, default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--result", required=True)
    a = ap.parse_args()
    t0 = float(os.environ["PERFBENCH_T0"])
    names = a.workloads.split(",")
    inputs = json.loads(Path(a.inputs).read_text())
    run_dir = Path(a.run_dir)
    evdir = str(run_dir / "eventlog") if a.mode == "trace" else None

    spark, get_spark_s = start_session(os.environ["TMPDIR"], f"perfbench-{names[0]}", evdir)
    rec = {"setup_s": time.time() - t0, "get_spark_s": get_spark_s}
    jvm_pid = spark.sparkContext._gateway.proc.pid
    out_dir = str(run_dir / "out")
    if a.mode == "run":
        rec["executions"] = run_loop(names[0], spark, inputs[names[0]], out_dir, a.seconds)
    else:
        rec.update(trace_all(spark, names, inputs, out_dir, jvm_pid))
    rec["peak_rss_mib"] = eventlog.peak_rss_mib([os.getpid(), jvm_pid])
    spark.stop()
    if evdir:
        rec["spans"] = eventlog.attribute(eventlog.read_events(evdir), rec["spans"])
    Path(a.result).write_text(json.dumps(rec))
    return 0


if __name__ == "__main__":
    sys.exit(main())
