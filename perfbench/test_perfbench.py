"""Event-log parsing, interval arithmetic and record comparison — no Spark.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402


def _job_start(jid, t_ms, stages, group=None, batch=None):
    props = {"spark.app.id": "local-1"}
    if group is not None:
        props["spark.jobGroup.id"] = group
    if batch is not None:
        props["streaming.sql.batchId"] = str(batch)
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t_ms,
            "Stage IDs": stages, "Properties": props}


def _task_end(stage, cpu_ns, shuffle_bytes=0, gc_ms=0, reason="Success"):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
            "Task End Reason": {"Reason": reason},
            "Task Metrics": {"Executor CPU Time": cpu_ns, "Executor Run Time": 10,
                             "JVM GC Time": gc_ms, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_bytes},
                             "Shuffle Read Metrics": {"Local Bytes Read": 0},
                             "Input Metrics": {"Bytes Read": 0}, "Output Metrics": {"Bytes Written": 0}}}


# span "a" runs 100.0-104.0 s; span "b" 104.0-110.0 s (epoch seconds)
CANNED = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    _job_start(0, 100_500, [0, 1], group="a"),
    _task_end(0, 2_000_000_000, shuffle_bytes=2 * 2**20, gc_ms=100),
    _task_end(1, 1_000_000_000),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 102_000},
    _job_start(1, 101_500, [2], group="a"),  # overlaps job 0
    _task_end(2, 500_000_000, reason="ExceptionFailure"),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 102_500},
    # job 2 lists stage 1 again (skipped): its tasks stay with job 0
    _job_start(2, 105_000, [1, 3], group="b", batch=7),
    _task_end(3, 250_000_000),
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 106_000},
    # no group: attributed by submission time, to span "b"
    _job_start(3, 108_000, [4]),
    {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 109_000},
    # group unknown to the spans and outside every span: nobody's
    _job_start(4, 111_000, [5], group="untraced"),
    {"Event": "SparkListenerJobEnd", "Job ID": 4, "Completion Time": 112_000},
]
SPANS = [{"name": "a", "start": 100.0, "end": 104.0}, {"name": "b", "start": 104.0, "end": 110.0}]


def test_union_length_merges_overlaps_and_clips():
    assert eventlog.union_length([], 0, 10) == 0
    assert eventlog.union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert eventlog.union_length([(1, 3), (2, 5), (7, 8)], 2.5, 7.5) == 3.0
    assert eventlog.union_length([(0, 1), (9, 12)], 2, 8) == 0
    assert eventlog.union_length([(0, 4), (1, 2), (3, 6)], 0, 10) == 6


def test_attribute_by_group_and_by_time():
    a, b = eventlog.attribute(CANNED, SPANS)
    assert (a["jobs"], b["jobs"]) == (2, 2)
    # jobs 0 and 1 cover 100.5-102.5 of span a's 4 s
    assert a["wall_s"] == pytest.approx(4.0)
    assert a["job_s"] == pytest.approx(2.0)
    assert a["driver_s"] == pytest.approx(2.0)
    assert a["exec_cpu_s"] == pytest.approx(3.5)
    assert a["shuffle_mib"] == pytest.approx(2.0)
    assert a["gc_s"] == pytest.approx(0.1)
    assert (a["tasks"], a["failed_tasks"]) == (3, 1)
    # span b: job 2 (105-106) by group, job 3 (108-109) by time
    assert b["job_s"] == pytest.approx(2.0)
    assert b["driver_s"] == pytest.approx(4.0)
    assert b["exec_cpu_s"] == pytest.approx(0.25)
    assert b["batches"] == ["7"]


def test_unfinished_job_counts_until_span_end():
    events = [_job_start(0, 103_000, [0], group="a")]
    (a,) = eventlog.attribute(events, SPANS[:1])
    assert a["job_s"] == pytest.approx(1.0)
    assert a["driver_s"] == pytest.approx(3.0)


def test_rolling_files_read_in_order(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    # written out of order on purpose; events_10 must come after events_2
    for idx, chunk in ((10, CANNED[9:]), (1, CANNED[:5]), (2, CANNED[5:9])):
        (d / f"events_{idx}_local-1").write_text("".join(json.dumps(e) + "\n" for e in chunk))
    (d / "appstatus_local-1").write_text("")
    assert eventlog.read_events(str(tmp_path)) == CANNED
    assert [s["jobs"] for s in eventlog.attribute(eventlog.read_events(str(tmp_path)), SPANS)] == [2, 2]


def test_python_worker_cpu_and_peak_rss_from_proc():
    import threading

    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\ntime.sleep(30)"
    box = []
    # started from a second thread, as the JVM starts the pyspark daemon
    t = threading.Thread(target=lambda: box.append(subprocess.Popen([sys.executable, "-c", burn])))
    t.start()
    t.join(10)
    (p,) = box
    try:
        deadline = time.time() + 10
        while eventlog.python_worker_cpu(os.getpid()) < 0.3 and time.time() < deadline:
            time.sleep(0.05)
        assert eventlog.python_worker_cpu(os.getpid()) >= 0.3
        assert p.pid in eventlog.descendants(os.getpid())
        assert eventlog.peak_rss_mib([os.getpid(), p.pid]) > eventlog.peak_rss_mib([p.pid]) > 0
    finally:
        p.kill()
        p.wait()


def test_compare_refuses_different_cpu_counts():
    import compare

    def rec(nproc, value):
        return {"workload": "w", "trace": 0, "env": {"nproc": nproc, "SPARK_GRAFT_CPUS": str(nproc)},
                "metrics": {"steady_run_s": {"value": value, "unit": "s"}}}

    rows = compare.compare([rec(4, 10.0), rec(4, 12.0)], [rec(4, 5.5)])
    assert rows == [("w", 0, "steady_run_s", 11.0, 5.5, 0.5)]
    with pytest.raises(ValueError, match="cpu counts"):
        compare.compare([rec(32, 10.0)], [rec(8, 10.0)])
