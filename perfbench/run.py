"""Benchmark of the engine's user workloads, run from the root of a checkout.

    python3 perfbench/run.py --workload wafer_csv_etl --seed 1 --seconds 35 --trace 0

``--trace 0`` runs the workload in a fresh process as a closed loop with one
client and reports the end-to-end metrics; ``--trace 1`` runs the traced
layer census (every workload's layer chain, see ``worker.py``) and reports
the per-layer metrics. The last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``; the line before
it is the full record (environment stamp, every execution, every span),
which is also kept under ``.perfbench/records/``.

Inputs are generated from ``--seed`` and cached under ``.perfbench/cache``.
Every process the benchmark starts runs with its temporary files under
``.perfbench/runs/<run>``; what a run leaves in that directory or as new
``wdps_*``/``spark*`` entries of ``/tmp`` after its processes have ended is
its residue, which is measured and then deleted.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import workloads  # noqa: E402

REQUIRED = (
    "wafer_defect_data_pipeline_spark/session.py",
    "wafer_defect_data_pipeline_spark/cli.py",
    "tools/gen_testdata.py",
    "tests/wafer_fixture.py",
    "tests/pandas_replica.py",
    "tests/oracle.py",
)
#: Default driver heap. At 1g the steady executions of ``wafer_csv_etl``
#: slowed from ~9 s to 13-16 s on some seeds (the heap fills with the blocks
#: of earlier executions), so 2g it is. At 2g the peak RSS of a run spreads
#: ~20% across seeds (G1 grows the heap differently each run): too wide to
#: bound, so it is a per-layer metric of the traced run and a record field.
DRIVER_MEM = "2g"
CHILD_TIMEOUT_S = 160
TMP_PREFIXES = ("wdps_", "spark-", "spark_", "blockmgr-", "pyspark-")

#: Named per-layer spans, in chain order, per workload.
SPANS = {
    "wafer_csv_etl": (
        "sources.csv.load_data",
        "operators.clustering.with_row_id",
        "operators.outliers.remove_outliers_by_group",
        "functions.derived.add_engineered_features",
        "operators.clustering.run_kmeans_by_step",
        "operators.labeling.label_killer_defects",
        "sources.sinks.write_csv_single",
    ),
    "llm_curation": (
        "sources.parquet.read_table",
        "operators.dedup.exact_dedup",
        "operators.dedup.minhash_lsh_pairs",
        "operators.dedup.lsh_verified_pairs",
        "operators.graph.cluster_assignment",
        "functions.text.quality_score",
        "operators.dedup.strip_contaminated_spans",
        "operators.packing.pack_concat_chunks",
        "sources.sinks.write_parquet",
    ),
}
SPAN_MEASURES = ("wall_s", "jobs", "driver_s", "exec_cpu_s")
#: Spans that shuffle also name ``shuffle_mib``. Every span records
#: ``pyworker_cpu_s`` too, but no layer of these chains starts Python
#: workers (the CLI clusters with MLlib), so none names it.
SHUFFLE_SPANS = (
    "operators.outliers.remove_outliers_by_group",
    "operators.clustering.run_kmeans_by_step",
    "operators.dedup.exact_dedup",
    "operators.dedup.minhash_lsh_pairs",
    "operators.dedup.lsh_verified_pairs",
    "operators.graph.cluster_assignment",
    "operators.dedup.strip_contaminated_spans",
    "operators.packing.pack_concat_chunks",
    "sources.sinks.write_parquet",
)
RATIOS = (
    "operators.clustering.with_row_id.pinned",
    "operators.outliers.remove_outliers_by_group.keep_ratio",
    "operators.dedup.lsh_verified_pairs.verify_yield",
)

UNITS = {"wall_s": "s", "driver_s": "s", "exec_cpu_s": "s", "jobs": "count"}


def per_layer_names() -> list[tuple[str, str]]:
    """(name, unit) of every named per-layer metric, in a fixed order."""
    out = [("session.get_spark.wall_s", "s"), ("session.trace_overhead_s", "s"),
           ("session.peak_rss_mib", "MiB")]
    for w, spans in SPANS.items():
        out += [(f"{w}.traced.jobs", "count"), (f"{w}.traced.driver_s", "s")]
        for s in spans:
            out += [(f"{s}.{m}", UNITS[m]) for m in SPAN_MEASURES]
            if s in SHUFFLE_SPANS:
                out.append((f"{s}.shuffle_mib", "MiB"))
    out += [(r, "ratio") for r in RATIOS]
    return out


# --- environment stamp --------------------------------------------------------

def _first_line(cmd: list[str]) -> str | None:
    try:
        p = subprocess.run(cmd, capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return None
    text = (p.stdout or p.stderr).strip()
    return text.splitlines()[0] if text else None


def source_commit() -> dict:
    """The git commit when the checkout is a repository, and always a digest
    of the engine's source files (a checkout without ``.git`` has only that)."""
    import hashlib

    h = hashlib.sha256()
    for p in sorted((ROOT / "wafer_defect_data_pipeline_spark").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    commit = _first_line(["git", "-C", str(ROOT), "rev-parse", "HEAD"]) if (ROOT / ".git").exists() else None
    return {"git_commit": commit, "source_sha256": h.hexdigest()[:16]}


def env_stamp(child_env: dict) -> dict:
    from importlib.metadata import PackageNotFoundError, version

    try:
        pyspark = version("pyspark")
    except PackageNotFoundError:
        pyspark = None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": child_env.get("SPARK_GRAFT_CPUS"),
        "knobs": {k: v for k, v in sorted(child_env.items()) if k.startswith(("WDPS_", "SPARK_GRAFT_"))},
        "driver_memory": child_env.get("SPARK_GRAFT_DRIVER_MEM"),
        "pyspark": pyspark,
        "java": _first_line(["java", "-version"]),
        "python": sys.version.split()[0],
        **source_commit(),
    }


# --- child processes ------------------------------------------------------------

def _tagged_pids(tag: str) -> list[int]:
    """Live processes whose environment carries ``PERFBENCH_RUN=<tag>``."""
    needle = f"PERFBENCH_RUN={tag}".encode()
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == os.getpid():
            continue
        try:
            with open(f"/proc/{d}/environ", "rb") as fh:
                if needle in fh.read().split(b"\0"):
                    out.append(int(d))
        except OSError:
            continue
    return out


def reap(tag: str) -> None:
    """Kill whatever a child left running (JVM, Python workers) and wait
    until it has ended."""
    for _ in range(100):
        pids = _tagged_pids(tag)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def spawn(mode: str, names: list[str], inputs_file: Path, seconds: float, run_dir: Path,
          env: dict, tag: str) -> dict:
    result = run_dir / f"{mode}.json"
    log = run_dir / f"{mode}.log"
    cmd = [sys.executable, str(HERE / "worker.py"), "--mode", mode, "--workloads", ",".join(names),
           "--inputs", str(inputs_file), "--seconds", str(seconds), "--run-dir", str(run_dir),
           "--result", str(result)]
    env = {**env, "PERFBENCH_RUN": tag, "PERFBENCH_T0": repr(time.time())}
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, env=env, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True, cwd=str(ROOT))
        try:
            code = p.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    reap(tag)
    if code != 0 or not result.exists():
        tail = log.read_text(errors="replace")[-3000:]
        raise RuntimeError(f"{mode} process failed (exit {code}):\n{tail}")
    return json.loads(result.read_text())


# --- residue --------------------------------------------------------------------

def _tree_bytes(path: Path) -> int:
    if path.is_symlink() or path.is_file():
        return path.lstat().st_size
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total


def tmp_entries() -> set[str]:
    try:
        return {n for n in os.listdir("/tmp") if n.startswith(TMP_PREFIXES)}
    except OSError:
        return set()


def take_residue(before: set[str], run_tmp: Path) -> tuple[float, list[str]]:
    """MiB left behind by the run's processes: new ``/tmp`` entries with the
    engine's or Spark's prefixes plus anything left in the run's own temp
    directory. Deletes what it measured."""
    new = sorted(tmp_entries() - before)
    total = sum(_tree_bytes(Path("/tmp") / n) for n in new)
    left = sorted(p.name for p in run_tmp.iterdir()) if run_tmp.exists() else []
    total += _tree_bytes(run_tmp) if run_tmp.exists() else 0
    for n in new:
        p = Path("/tmp") / n
        if p.is_dir() and not p.is_symlink():
            shutil.rmtree(p, ignore_errors=True)
        else:
            p.unlink(missing_ok=True)
    return total / 2**20, [f"/tmp/{n}" for n in new] + [f"run_tmp/{n}" for n in left]


# --- metrics ----------------------------------------------------------------------

def end_to_end(run: dict) -> dict:
    ex = run["executions"]
    return {
        "setup_s": (run["setup_s"], "s"),
        "first_run_s": (ex[0]["wall_s"], "s"),
        "steady_run_s": (statistics.median(e["wall_s"] for e in ex[2:]), "s"),
    }


def per_layer(trace: dict) -> dict:
    spans = {s["name"]: s for s in trace["spans"]}
    got = {
        "session.get_spark.wall_s": trace["get_spark_s"],
        "session.trace_overhead_s": trace["workloads"][trace["order"][0]]["trace_overhead_s"],
        "session.peak_rss_mib": trace["peak_rss_mib"],
    }
    for w, rec in trace["workloads"].items():
        mine = [s for s in trace["spans"] if s["workload"] == w]
        got[f"{w}.traced.jobs"] = sum(s["jobs"] for s in mine)
        got[f"{w}.traced.driver_s"] = sum(s["driver_s"] for s in mine)
        for r, v in rec["ratios"].items():
            got[r] = v["value"]
    for name, s in spans.items():
        for m in (*SPAN_MEASURES, "shuffle_mib"):
            got[f"{name}.{m}"] = s[m]
    return {n: (got[n], unit) for n, unit in per_layer_names() if n in got}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=35, help="measuring time of a run (not used with --trace 1)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    missing = [p for p in REQUIRED if not (ROOT / p).exists()]
    if missing:
        print(f"perfbench: {ROOT} is not a checkout of the engine; missing: {', '.join(missing)}",
              file=sys.stderr)
        return 2

    work = ROOT / ".perfbench"
    load_start = os.getloadavg()[0]
    names = [a.workload] + ([w for w in workloads.WORKLOADS if w != a.workload] if a.trace else [])
    inputs = {w: workloads.make_inputs(w, a.seed, work / "cache") for w in names}

    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}-{int(time.time())}"
    run_dir = work / "runs" / tag
    run_tmp = run_dir / "tmp"
    run_tmp.mkdir(parents=True)
    inputs_file = run_dir / "inputs.json"
    inputs_file.write_text(json.dumps(inputs))
    nproc = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    env.update({
        "PYTHONPATH": os.pathsep.join([str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "TMPDIR": str(run_tmp),
        "SPARK_LOCAL_DIRS": str(run_tmp / "spark-local"),
    })
    stamp = env_stamp(env)

    before = tmp_entries()
    try:
        if a.trace:
            trace = spawn("trace", names, inputs_file, a.seconds, run_dir, env, tag)
            residue, residue_paths = take_residue(before, run_tmp)
            metrics = per_layer(trace)
            checks = [r["check"] for w in trace["workloads"].values()
                      for r in (*w.get("untraced", ()), w["traced"])]
            detail = trace
        else:
            run = spawn("run", names, inputs_file, a.seconds, run_dir, env, tag)
            residue, residue_paths = take_residue(before, run_tmp)
            metrics = end_to_end(run)
            checks = [e["check"] for e in run["executions"]]
            detail = run
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        reap(tag)
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = sum(not c.get("ok") for c in checks)
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    record = {
        "workload": a.workload,
        "seed": a.seed,
        "seconds": a.seconds,
        "trace": a.trace,
        "env": {**stamp, "loadavg_1m_start": load_start, "loadavg_1m_end": os.getloadavg()[0]},
        "inputs": inputs,
        "tmp_residue_mib": residue,
        "peak_rss_mib": detail["peak_rss_mib"],
        "tmp_residue_paths": residue_paths,
        "failed_frac": failed / len(checks),
        "metrics": metrics,
        "detail": detail,
    }
    records = work / "records"
    records.mkdir(parents=True, exist_ok=True)
    (records / f"{tag}.json").write_text(json.dumps(record, indent=1))
    print(json.dumps(record))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(checks),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
