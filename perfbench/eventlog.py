"""Spark event-log parsing and span attribution, standard library only.

Spark 4.1 writes its event log as rolling ``eventlog_v2_<app>/events_<n>_<app>``
files of one JSON object per line. :func:`read_events` reads them in order;
:func:`attribute` assigns every job (by its ``spark.jobGroup.id`` property, or
else by submission time) and every finished task to the span that was open,
and sums what the tasks report.

A span's ``driver_s`` is the part of its wall time that no running job covers:
planning, driver-side numpy, Python glue and the gaps between actions.
"""

from __future__ import annotations

import glob
import json
import os
import re

#: Task-metric sums kept per span, as (output name, scale, path in "Task Metrics").
TASK_SUMS = (
    ("exec_cpu_s", 1e-9, ("Executor CPU Time",)),
    ("exec_run_s", 1e-3, ("Executor Run Time",)),
    ("gc_s", 1e-3, ("JVM GC Time",)),
    ("shuffle_mib", 1 / 2**20, ("Shuffle Write Metrics", "Shuffle Bytes Written")),
    ("shuffle_read_mib", 1 / 2**20, ("Shuffle Read Metrics", "Local Bytes Read")),
    ("spill_mem_mib", 1 / 2**20, ("Memory Bytes Spilled",)),
    ("spill_disk_mib", 1 / 2**20, ("Disk Bytes Spilled",)),
    ("input_mib", 1 / 2**20, ("Input Metrics", "Bytes Read")),
    ("output_mib", 1 / 2**20, ("Output Metrics", "Bytes Written")),
)


def event_files(log_dir: str) -> list[str]:
    """The rolling event files under ``log_dir``, in write order."""

    def index(path: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return int(m.group(1)) if m else 0

    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    return sorted((f for f in files if not f.endswith(".crc")), key=index)


def read_events(log_dir: str) -> list[dict]:
    out = []
    for path in event_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    out.append(json.loads(line))
    return out


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _dig(d: dict, path) -> float:
    for k in path:
        if not isinstance(d, dict):
            return 0.0
        d = d.get(k, 0)
    return float(d or 0)


def jobs_with_tasks(events: list[dict]) -> dict[int, dict]:
    """Job id -> {start, end, group, batch, stages, tasks, metric sums}; a
    task is folded into the first job that lists its stage (later jobs that
    list it again skipped it)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            props = e.get("Properties") or {}
            jobs[jid] = {
                "start": e["Submission Time"] / 1000.0,
                "end": None,
                "group": props.get("spark.jobGroup.id"),
                "batch": props.get("streaming.sql.batchId"),
                "stages": list(e.get("Stage IDs", [])),
                "tasks": 0,
                "failed_tasks": 0,
                **{name: 0.0 for name, _, _ in TASK_SUMS},
            }
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(e["Job ID"])
            if job is not None:
                job["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(e.get("Stage ID"), -1))
            if job is None:
                continue
            job["tasks"] += 1
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                job["failed_tasks"] += 1
            tm = e.get("Task Metrics") or {}
            for name, scale, path in TASK_SUMS:
                job[name] += _dig(tm, path) * scale
    return jobs


def attribute(events: list[dict], spans: list[dict]) -> list[dict]:
    """Fill each span (``name``, ``start``, ``end`` in epoch seconds) with
    ``jobs``, ``tasks``, ``job_s`` (union of its job intervals), ``driver_s``
    and the task-metric sums. A job belongs to the span whose name equals its
    job group; a job without a known group belongs to the span whose
    interval holds its submission time."""
    jobs = jobs_with_tasks(events)
    names = {s["name"] for s in spans}
    out = []
    for s in spans:
        mine = []
        for job in jobs.values():
            if job["group"] in names:
                hit = job["group"] == s["name"]
            else:
                hit = s["start"] <= job["start"] <= s["end"]
            if hit:
                mine.append(job)
        wall = s["end"] - s["start"]
        covered = union_length(
            [(j["start"], j["end"] if j["end"] is not None else s["end"]) for j in mine],
            s["start"],
            s["end"],
        )
        rec = dict(s)
        rec.update(
            wall_s=wall,
            jobs=len(mine),
            tasks=sum(j["tasks"] for j in mine),
            failed_tasks=sum(j["failed_tasks"] for j in mine),
            job_s=covered,
            driver_s=max(0.0, wall - covered),
            batches=sorted({j["batch"] for j in mine if j["batch"] is not None}, key=int),
        )
        for name, _, _ in TASK_SUMS:
            rec[name] = sum(j[name] for j in mine)
        out.append(rec)
    return out


# --- Python-worker CPU from /proc -------------------------------------------

def _children(pid: int) -> list[int]:
    # each thread lists the children it forked; the JVM forks from threads
    out = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as fh:
                out.extend(int(x) for x in fh.read().split())
        except OSError:
            continue
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def cpu_seconds(pid: int) -> float:
    """utime + stime of ``pid`` plus those of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
    except OSError:
        return 0.0
    fields = stat[stat.rindex(b")") + 2:].split()
    ticks = sum(int(fields[i]) for i in (11, 12, 13, 14))  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def python_worker_cpu(jvm_pid: int) -> float:
    """CPU seconds used so far by the Python workers under the JVM. A live
    process's time is in its own counters and moves into its parent's
    ``cutime``/``cstime`` when the parent (the pyspark daemon) reaps it, so
    summing both over the live Python processes counts it exactly once."""
    total = 0.0
    for pid in descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().startswith("python"):
                    total += cpu_seconds(pid)
        except OSError:
            continue
    return total


def peak_rss_mib(pids) -> float:
    """Sum of ``VmHWM`` (peak resident set) over ``pids``, in MiB."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0
