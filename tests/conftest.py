from __future__ import annotations

import os
import sys
import time
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMALL = f"{TESTDATA}/sf0.001"
SF_MEDIUM = f"{TESTDATA}/sf0.01"

# Bound the test session's driver heap (the engine default is 16g): the
# session JVM shares the host with the DuckDB oracles, which peak at ~8.6 GB
# in this process, and with a 16g heap the two together outgrew a 16 GB
# host. Subprocess tests inherit it.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    from wafer_defect_data_pipeline_spark.session import get_spark

    s = get_spark(app_name="wdps-tests", extra_conf={"spark.sql.shuffle.partitions": "8"})
    yield s


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_medium():
    return SF_MEDIUM


_SESSION_T0 = pytest.StashKey[float]()


def pytest_sessionstart(session):
    session.config.stash[_SESSION_T0] = time.perf_counter()


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    """Unconditional run ledger: every pytest invocation appends its outcome
    to TESTRUNS.jsonl from INSIDE the tool (r8 advice #3 — a wrapper-level
    append can be bypassed; r9 shipped a 243-line refactor with no recorded
    run). ``wall_s`` tracks the tier-1 headroom under its timeout. Never
    fails the run it records."""
    try:
        from wafer_defect_data_pipeline_spark.ledger import record_run

        stats = terminalreporter.stats
        counts = {
            k: len(v)
            for k, v in stats.items()
            if k in ("passed", "failed", "error", "skipped", "deselected")
        }
        tail = ", ".join(f"{n} {k}" for k, n in sorted(counts.items()) if n)
        record_run(
            "pytest",
            tail or "no tests collected",
            exit=int(exitstatus),
            wall_s=round(time.perf_counter() - config.stash[_SESSION_T0], 1),
            args=" ".join(map(str, config.invocation_params.args))[:200],
        )
    except Exception:
        pass
