"""Process-private scratch paths for the build-once serving queries.

The prebuilt/export queries persist an artifact (index, decision manifest,
shard set) and answer from the LOADED copy. Their scratch paths went
through two failure modes already: uuid-fresh dirs leaked one artifact copy
per invocation until /tmp filled (fixed r13), and the fixed sf-keyed
replacement races across concurrent runs on the same sf — one process can
read a parquet dir mid-overwrite by another and serve a mixed
decision/index/manifest (r13 ADVICE). :func:`scratch_dir` closes both:

- the path is suffixed with the OWNING PID, so two live processes never
  share a dir (same-process re-runs still overwrite in place, keeping the
  r13 no-accumulation property within a sweep);
- stale siblings left by DEAD processes are swept on entry — cleanup can't
  run at query exit because the returned DataFrame reads the artifact
  lazily, at the caller's collect time.

Every path this module hands out is also removed when the owning process
exits (one ``atexit`` hook), so no state survives a run; the entry sweeps
remain the fallback for processes that die without running exit hooks.
Paths live under ``tempfile.gettempdir()`` unless a caller names a base,
so ``TMPDIR`` moves them. :func:`run_dir` is the per-call form: a fresh dir under the process's one
scratch root, for work that must not be shared even within a process.
"""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile
import time
import uuid

#: Age-based fallback sweep threshold (seconds). A recycled PID owned by an
#: unrelated live process defeats the liveness check forever, and dirs whose
#: tag never recurs (one-off sf tags) are never matched by the exact-tag
#: sweep — both accumulate in /tmp (r14 ADVICE). A ``wdps_*`` dir untouched
#: for this long is swept once its owner is dead or provably recycled.
STALE_AGE_SECONDS = 24 * 3600

_ANY_WDPS = re.compile(r"wdps_.+_pid(\d+)$")

#: Every path scratch_dir handed out in this process. Process-scoped by
#: design: it is what the exit hook removes.
_CREATED: set[str] = set()


def _remove_created() -> None:
    # the pid suffix keeps a forked child (which inherits both this set and
    # the hook) from deleting its parent's live dirs
    suffix = f"_pid{os.getpid()}"
    for path in _CREATED:
        if path.endswith(suffix):
            shutil.rmtree(path, ignore_errors=True)


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # pragma: no cover — exists, owned by another user
        return True
    return True


def _pid_started_after(pid: int, epoch: float) -> bool:
    """True iff process ``pid`` provably started AFTER ``epoch`` — i.e. the
    PID was RECYCLED since whatever touched a file at ``epoch``. Reads
    /proc/<pid>/stat starttime (ticks since boot) + /proc/stat btime;
    returns False (be conservative — treat as the original owner) when the
    answer can't be established."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
        # field 2 (comm) may contain spaces/parens — split after the LAST ')'
        fields = stat[stat.rindex(b")") + 2:].split()
        start_ticks = int(fields[19])  # starttime is field 22 overall
        with open("/proc/stat") as fh:
            btime = next(
                int(line.split()[1]) for line in fh if line.startswith("btime")
            )
        start_epoch = btime + start_ticks / os.sysconf("SC_CLK_TCK")
        return start_epoch > epoch
    except (OSError, ValueError, IndexError, StopIteration):  # pragma: no cover
        return False


def scratch_dir(tag: str, base: str | None = None) -> str:
    """Return ``{base}/wdps_{tag}_pid{os.getpid()}`` (``base`` defaults to
    ``tempfile.gettempdir()``) after sweeping dead
    siblings (``wdps_{tag}_pid<N>`` where process N no longer exists).
    ``tag`` should carry the sf key so distinct datasets never collide
    within one process either.

    Two sweeps run on entry: (1) exact-tag siblings whose owning PID is
    dead; (2) an age-based fallback over ALL ``wdps_*`` dirs older than
    :data:`STALE_AGE_SECONDS` whose owner is dead or provably recycled
    (started after the dir's last write) — this catches dirs whose tag
    never recurs and recycled PIDs that defeat the liveness check
    (r14 ADVICE) without ever deleting a LIVE owner's artifacts."""
    base = base or tempfile.gettempdir()
    pat = re.compile(re.escape(f"wdps_{tag}_pid") + r"(\d+)$")
    now = time.time()
    try:
        for name in os.listdir(base):
            path = os.path.join(base, name)
            m = pat.match(name)
            if m and int(m.group(1)) != os.getpid() and not _pid_alive(int(m.group(1))):
                shutil.rmtree(path, ignore_errors=True)
                continue
            any_m = _ANY_WDPS.match(name)
            if any_m and int(any_m.group(1)) != os.getpid():
                try:
                    mtime = os.path.getmtime(path)
                except OSError:  # pragma: no cover — vanished mid-scan
                    continue
                owner = int(any_m.group(1))
                # age alone must NOT delete: a long-lived owner serving
                # reads for >24h keeps the dir's mtime at build time (reads
                # don't touch mtime), so an age-only sweep would rmtree a
                # LIVE process's artifacts mid-serve. Sweep only when the
                # owner is dead, or its PID was provably recycled (the
                # process now holding it started after the dir's last
                # write).
                if now - mtime > STALE_AGE_SECONDS and (
                    not _pid_alive(owner) or _pid_started_after(owner, mtime)
                ):
                    shutil.rmtree(path, ignore_errors=True)
    except OSError:  # pragma: no cover — unreadable base dir; path still valid
        pass
    path = os.path.join(base, f"wdps_{tag}_pid{os.getpid()}")
    if not _CREATED:
        atexit.register(_remove_created)
    _CREATED.add(path)
    return path


def run_dir(tag: str, base: str | None = None) -> str:
    """A fresh ``{root}/{tag}_{uuid8}`` under this process's scratch root
    (``root = scratch_dir("run", base)``): private to one call, covered by
    the dead-PID and stale-age sweeps through its root, and removed with
    the root at process exit. Nothing is created on disk."""
    return os.path.join(scratch_dir("run", base), f"{tag}_{uuid.uuid4().hex[:8]}")
