"""One engine for the streaming admit loops.

An admit loop is the daily-crawl shape of an append-only incremental
index (EDBT 2020's incremental top-k, SURVEY.md §2.9): each arriving
micro-batch is probed against the index AS IT STOOD BEFORE the batch —
history is the authority, a batch never matches itself — and then
admitted for every later batch, so day-2 matches against day-1 rows
exist only through the admission step (what every staged oracle pins).
Five families — span grams, MinHash signatures, entity records, ANN
vectors, standing BM25 — each state themselves as one :class:`AdmitLoop`;
the runners here own the rest. :func:`run_rewrite` rewrites one versioned
snapshot per admit (O(index), the correctness twin); :func:`run_delta`
writes only the batch's own rows as ``idx/delta/batch=N`` (O(batch)),
probes base ∪ deltas, and folds the deltas into a new base every
``compact_every`` batches (LSM / Delta-Lake compaction, the 100 TB path).

**State algebra** — why base ∪ deltas answers what the merged index
would; each relation's fold is its compaction. Presence counts (span
``(gh, n)``): presence in the union equals presence in the merge, and the
fold is ``merge_gram_index``'s ``groupBy(gh).sum(n)``. Independent rows
(signatures, records, vectors, postings, doclens): the union IS the
relation, the fold a plain union. Summable aggregates (BM25 ``stats``, one
integer ``(n_docs, sum_dl)`` row per part): the sum across parts equals a
recompute over the union, exactly.

**Retry correctness** (invariants owned by ``state.DeltaManifest``):
outputs and deltas go to deterministic ``batch=<id>`` paths in overwrite
mode, so a Structured-Streaming retry replaces its own earlier attempt. A
pre-admit probe EXCLUDES the batch's own delta, and compaction never folds
the current delta into the new base (which would bring the self-match
back through the base), so compaction lags the newest batch by one —
operational, never semantic. The manifest append is membership-guarded.
The rewrite runner derives its probe snapshot from ``batch_id``
(``version_path``), never from driver state mutated mid-body. A standing
query (BM25) probes AFTER the admit with ``include_own=True`` and stays
retry-safe for the same reason: the current delta is never in a compacted
base, so it appears in the view exactly once.

**Durability**: the manifest's Delta-style log (``idx/_log``) is written
last in each batch body, after every part it names, and every lifetime
recovers its manifest from it. The restart drill runs each day as its own
lifetime sharing one ``checkpointLocation``: no driver state crosses the
"crash", Spark's offset tracking skips processed files, and the output is
bit-equal to one lifetime's. Time travel reads the log ``as_of`` a batch.

**No state outlives a run**: each run works in a fresh ``scratch.run_dir``
and deletes its staged ``in/``, ``ckpt/`` and ``idx/`` before returning;
only the ``out/`` its lazy frame reads stays until the process exits.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Mapping
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession

from ..scratch import run_dir
from .state import DeltaManifest, version_path

#: relation name -> frame; one relation for most loops, three for BM25
Frames = dict[str, DataFrame]


def _as_is(df: DataFrame, delta: bool = False) -> DataFrame:
    return df


@dataclass(frozen=True)
class AdmitLoop:
    """What differs between admit-loop families; the runners do the rest."""

    tag: str  # run_dir tag
    history: DataFrame  # the corpus the index starts from
    batches: tuple[DataFrame, ...]  # the staged days, in arrival order
    schema: str  # DDL the file stream reads the staged days with
    admit: Callable[[DataFrame], Frames]  # rows a frame adds to the index
    probe: Callable[[DataFrame, Frames, int], DataFrame]  # (batch, view, batch_id)
    columns: tuple[str, ...]  # output projection (drops the `batch` partition)
    order: tuple[str, ...]
    folds: Mapping[str, Callable[[DataFrame], DataFrame]] = field(default_factory=dict)
    layout: Callable[[DataFrame, bool], DataFrame] = _as_is  # (frame, is_delta)
    probe_after_admit: bool = False


def _read(spark: SparkSession, parts: list[str], rels: tuple[str, ...]) -> Frames:
    return {
        r: reduce(DataFrame.unionByName, [spark.read.parquet(f"{p}/{r}") for p in parts])
        for r in rels
    }


def _write(loop: AdmitLoop, frames: Frames, part: str, delta: bool) -> tuple[str, ...]:
    for rel, df in frames.items():
        loop.layout(df, delta).write.mode("overwrite").parquet(f"{part}/{rel}")
    return tuple(frames)


def _fold(loop: AdmitLoop, frames: Frames) -> Frames:
    return {r: loop.folds.get(r, _as_is)(df) for r, df in frames.items()}


def _stage_day(work: str, b: DataFrame, i: int) -> None:
    """Day ``i`` as ONE parquet file under ``work/in``, mtime increasing with
    ``i``: the file source replays oldest-first, so batch order == day order."""
    staged = f"{work}/in"
    os.makedirs(staged, exist_ok=True)
    tmp = f"{work}/day{i}"
    b.coalesce(1).write.parquet(tmp)
    [part] = [f for f in os.listdir(tmp) if f.endswith(".parquet")]
    dst = f"{staged}/day{i}.parquet"
    shutil.move(f"{tmp}/{part}", dst)
    shutil.rmtree(tmp, ignore_errors=True)
    os.utime(dst, (1_000_000_000 + i, 1_000_000_000 + i))


def _stream(spark: SparkSession, loop: AdmitLoop, work: str, body) -> None:
    (
        spark.readStream.schema(loop.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{work}/in")
        .writeStream.foreachBatch(body)
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _finish(
    spark: SparkSession, loop: AdmitLoop, work: str, result: DataFrame | None = None
) -> DataFrame:
    """Delete everything but ``out/``; return ``result`` or the lazy output
    read. Removing ``idx/`` also vacuums every superseded part."""
    for name in os.listdir(work):
        if name != "out":
            shutil.rmtree(f"{work}/{name}", ignore_errors=True)
    if result is not None:
        return result
    return spark.read.parquet(f"{work}/out").select(*loop.columns).orderBy(*loop.order)


def _probe_out(
    loop: AdmitLoop, batch_df: DataFrame, view: Frames, batch_id: int, work: str
) -> None:
    loop.probe(batch_df, view, batch_id).write.mode("overwrite").parquet(
        f"{work}/out/batch={batch_id}"
    )


def run_rewrite(spark: SparkSession, loop: AdmitLoop) -> DataFrame:
    """The rewrite discipline: batch N probes ``v{N}``, then writes
    ``fold(v{N} ∪ admitted)`` to ``v{N+1}`` (overwrite)."""
    work = run_dir(loop.tag)
    idx = f"{work}/idx"
    rels = _write(loop, loop.admit(loop.history), version_path(idx, 0), delta=False)

    def probe_then_rewrite(batch_df: DataFrame, batch_id: int) -> None:
        view = _read(batch_df.sparkSession, [version_path(idx, batch_id)], rels)
        _probe_out(loop, batch_df, view, batch_id, work)
        new = loop.admit(batch_df)
        merged = {r: view[r].unionByName(new[r]) for r in rels}
        _write(loop, _fold(loop, merged), version_path(idx, batch_id + 1), delta=False)

    for i, b in enumerate(loop.batches, start=1):
        _stage_day(work, b, i)
    _stream(spark, loop, work, probe_then_rewrite)
    return _finish(spark, loop, work)


def _delta_body(loop: AdmitLoop, rels: tuple[str, ...], work: str, man: DeltaManifest):
    def body(batch_df: DataFrame, batch_id: int) -> None:
        sp, own = batch_df.sparkSession, f"{work}/idx/delta/batch={batch_id}"

        def probe() -> None:
            view = _read(sp, man.probe_parts(own, loop.probe_after_admit), rels)
            _probe_out(loop, batch_df, view, batch_id, work)

        if not loop.probe_after_admit:
            probe()
        _write(loop, loop.admit(batch_df), own, delta=True)
        man.admit(own)
        if loop.probe_after_admit:
            probe()
        if man.want_compact():
            nxt = f"{work}/idx/base/v{batch_id + 1}"
            _write(loop, _fold(loop, _read(sp, man.compact_parts(own), rels)), nxt, delta=False)
            man.finish_compact(nxt, own)
        man.checkpoint(batch_id)  # last: the log never names a missing part

    return body


def run_delta(
    spark: SparkSession,
    loop: AdmitLoop,
    compact_every: int,
    stats: dict | None = None,
    restart: bool = False,
    readout: Callable[[Callable[[int], Frames]], DataFrame] | None = None,
) -> DataFrame:
    """The delta-append discipline. ``restart`` runs each day as its own
    query lifetime, staged only after the previous one drained (a real
    crawl directory). ``readout``, when given, receives ``as_of(batch_id)
    -> Frames`` and its result — which must not read the index lazily; the
    index is removed before returning — replaces the output read.
    ``stats`` receives the manifest's byte ledger (``fill_stats``)."""
    work = run_dir(loop.tag)
    idx = f"{work}/idx"
    log = f"{idx}/_log"
    base = f"{idx}/base/v0"
    rels = _write(loop, loop.admit(loop.history), base, delta=False)
    DeltaManifest(base, compact_every=compact_every, log_dir=log).checkpoint(-1)

    days = list(enumerate(loop.batches, start=1))
    for lifetime in [[d] for d in days] if restart else [days]:
        for i, b in lifetime:
            _stage_day(work, b, i)
        _stream(spark, loop, work, _delta_body(loop, rels, work, DeltaManifest.recover(log)))

    def as_of(batch_id: int) -> Frames:
        m = DeltaManifest.recover(log, as_of_batch=batch_id)
        return _read(spark, [m.base, *m.deltas], rels)

    result = readout(as_of) if readout is not None else None
    DeltaManifest.recover(log).fill_stats(stats)
    return _finish(spark, loop, work, result)
