"""Parallelism guard for CPU-bound expansion stages.

A stage that expands each row by a large constant factor (shingle explode,
per-dimension posexplode, per-token hashing) inherits its parallelism from
the upstream SCAN. When the input sits in fewer files than the session has
cores — the local test shape, and the small-file tail of any lakehouse —
the expensive stage runs on a handful of tasks while the rest of the
cluster idles. ``fan_out`` repartitions ONLY in that case: the shuffle
moves the raw (narrow) rows, orders of magnitude cheaper than the k×
expansion it parallelizes; when the scan already yields >= parallelism
partitions (the at-scale case), it is a no-op and adds no shuffle.

Safe only for partitioning-invariant computations (every consumer here
aggregates with min/sum/avg or joins on keys); do NOT use upstream of
``monotonically_increasing_id`` or other partition-sensitive expressions.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame

_LOCAL_SCHEME = re.compile(r"^file:/+")


def scan_bytes(df: DataFrame) -> int | None:
    """Total size of ``df``'s scan files, from the driver's file listing
    (no job) — the one size probe of the byte gates.

    The unknown-size policy: a frame with NO input files (``createDataFrame``,
    RDD-backed, checkpointed) counts as 0 bytes, since its rows already sit
    in driver or executor memory. A non-``file:`` path, a failed listing or
    a failed ``getsize`` returns ``None``, which callers treat as large: at
    object-store scale the file-count gate alone already binds. Probe the
    scan itself: a pin upstream hides the files."""
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — no listing: unknown size
        return None
    total = 0
    for f in files:
        if ":" in f and not f.startswith("file:"):
            return None
        try:
            total += os.path.getsize(_LOCAL_SCHEME.sub("/", f))
        except OSError:
            return None
    return total


def fan_out(df: DataFrame, min_factor: int = 1, min_input_bytes: int = 0) -> DataFrame:
    """Repartition ``df`` to the session's default parallelism iff its scan
    looks narrower than that (``min_factor`` scales the target for
    extra-heavy expansions).

    The probe is ``df.inputFiles()`` — a logical-plan file listing that does
    NOT force physical planning (the old ``df.rdd.getNumPartitions()``
    planned the whole upstream query a second time; VERDICT r3). File count
    is a proxy for scan parallelism: exact for the small-file shapes this
    guard exists for, an underestimate for large splittable files — which
    only triggers a narrow-row repartition that is cheap relative to the
    expansion it parallelizes, and at scale file count >> cores makes the
    guard a no-op anyway. Non-file sources fall back to the physical probe.

    ``min_input_bytes`` (r16, VERDICT r15 item 8 — the size gate): when
    set, additionally require :func:`scan_bytes` to reach it before
    repartitioning. Python-kernel expansion stages only win from extra
    tasks once there are enough rows to amortize ~32 Python worker
    spin-ups — the r15 multimodal A/B measured the ungated fan_out SLOWER
    on a sub-MB input. Bytes are a row-count proxy read from the driver's
    file listing (no job); a frame with no files counts as 0 bytes (gated
    off), an unknown size counts as large.
    """
    target = df.sparkSession.sparkContext.defaultParallelism * min_factor
    try:
        n_src = len(df.inputFiles())
    except Exception:
        n_src = 0
    if n_src == 0:  # non-file source (createDataFrame, RDD-backed)
        n_src = df.rdd.getNumPartitions()
    if n_src >= target:
        return df
    if min_input_bytes:
        total = scan_bytes(df)
        if total is not None and total < min_input_bytes:
            return df
    return df.repartition(target)
