"""Per-step standardization + KMeans with label write-back (reference M1-M3).

Reference semantics (``/root/reference/src/preprocessing.py:153-208``): for
each analysed step, take rows with ``IS_DEFECT == 'REAL'`` and that step,
project the 18 cluster features, drop rows with any null, z-score the
subset, run KMeans(k=2, seed=42, n_init=10), and write labels back at the
original row positions — all other rows get a null ``KMeans_Cluster``.

Two algorithms, same API:

- ``mode="distributed"`` (the 100 TB path): per step, compute
  mean/stddev_pop per feature in ONE aggregate (map-side combinable, tiny
  result), broadcast them into the projection, and run MLlib
  ``KMeans(k, seed)`` on the assembled vector. Label write-back is a join on
  a pinned row id — no index alignment, no driver-side data.
- ``mode="parity"``: the numpy kernel (:mod:`..functions.kmeans_np`)
  reproduces the reference's scale→kmeans→label flow bit-for-bit with the
  test replica, one step at a time in ``__row_id`` order. Requires each
  step's REAL-defect subset to fit one process — the small-data mode.
- ``mode="auto"`` (default): every step at or under
  ``auto_parity_max_rows`` (1M rows) → the numpy kernel (an MLlib fit costs
  a fixed multi-job overhead that dwarfs small-group math); any step over
  it → the distributed path. The 100 TB run picks MLlib by itself.

The numpy kernel has two venues, chosen by one fetch that is both the size
probe and the input: ``limit(LOCAL_MAX_ROWS + 1).toPandas()`` of the
analysed subset. At or under :data:`LOCAL_MAX_ROWS` analysed rows the
kernel runs on the driver and the labels return as a local relation — no
stats job, no persisted subset, no Python worker. Above it, one grouped
``applyInPandas`` runs the same kernel per step in a Python worker. Same
kernel, same row order, same Arrow float64 values: the venues give the same
labels, so the gate is a pure cost decision.

Cluster ids are arbitrary in every implementation (sklearn, MLlib, numpy);
comparisons must be label-permutation-invariant (SURVEY.md §2.6 M2).
"""

from __future__ import annotations

from typing import Iterable, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.kmeans_np import kmeans_fit_predict, standardize
from ..schema import CLUSTER_FEATURES, DEFAULT_STEPS_TO_ANALYSE

ROW_ID = "__row_id"

#: Analysed rows (all steps together) at or under which the numpy kernel runs
#: on the driver instead of behind the stats probe, the persisted subset and
#: an ``applyInPandas`` job. Warm medians on 4 cores, driver → executor venue:
#: wafer fixture (18 features, k-means step alone) 10k rows 0.63 → 1.40 s,
#: 40k 1.04 → 2.21 s, 79k 1.83 → 3.30 s; lineitem shape (4 features, two
#: steps, whole query) 67k 2.81 → 3.19 s, 135k 3.70 → 3.94 s, 269k 5.64 →
#: 5.03 s. The serial driver kernel loses somewhere past ~150k; the gate sits
#: below that, where the fetched frame adds ~40 MiB to the driver's Python.
LOCAL_MAX_ROWS = 100_000


def with_row_id(df: DataFrame) -> DataFrame:
    """Attach a stable surrogate row id, pin-free whenever possible.

    Default path: derive the id from the scan's hidden file metadata —
    ``_metadata.file_path`` densely ranked per file, plus
    ``_metadata.row_index`` within the file. That id is a pure function of
    the stored bytes: deterministic across re-executions with NO
    materialization, so branch-and-rejoin lineages (the label write-back
    join) need no pin at any data scale. The file-rank side of the join is
    one row per input FILE (metadata-scale) and broadcast. The metadata
    column resolves through narrow transforms (project/filter/withColumn)
    but not through joins — attach the id at the scan, as
    ``WaferPipeline.preprocess`` and the registered wafer query do.

    Fallback (non-file sources, file formats without ``row_index`` such as
    CSV, or metadata hidden by an upstream join):
    ``monotonically_increasing_id`` is deterministic only within one
    materialization, so the id'd frame is pinned with localCheckpoint to
    stop re-execution renumbering rows (SURVEY.md §7 risk register). The
    pin is ``eager=False``, yet under AQE the call still runs every
    shuffle stage upstream of ``df``; only the narrow tail waits for the
    first action. The pin materializes the FULL-WIDTH frame in executor
    memory — the cost the metadata path exists to avoid; on a cluster
    prefer reliable
    ``df.checkpoint()`` if the fallback must run on a big frame.
    """
    import re as _re

    # Choose the path from the schema, not from a failed analysis: a CSV
    # scan has _metadata but no row_index, and resolving the missing field
    # logs an ERROR on every call even when the exception is caught.
    try:
        files = df.inputFiles()
        meta = df.select("_metadata").schema[0].dataType.fieldNames() if files else []
    except Exception:
        meta = []
    if "row_index" not in meta:
        return df.withColumn(ROW_ID, F.monotonically_increasing_id()).localCheckpoint(eager=False)
    tagged = df.withColumns(
        {
            "__src_file": F.col("_metadata.file_path"),
            "__src_pos": F.col("_metadata.row_index"),
        }
    )

    # Dense file rank built DRIVER-SIDE from the scan's file listing (pure
    # metadata — no Spark job; a first cut ranked via distinct()+window over
    # the _metadata column, which re-scanned the table once per action).
    # inputFiles() renders local URIs as file:///p while _metadata.file_path
    # renders file:/p, so both sides compare on the scheme-stripped form.
    _SCHEME = r"^[a-zA-Z][a-zA-Z0-9+.-]*:/+"
    rank_rows = [(p, i) for i, p in enumerate(sorted({_re.sub(_SCHEME, "", f) for f in files}))]
    norm = F.regexp_replace("__src_file", _SCHEME, "")
    # row_index fits 40 bits for any real parquet file; 2^23 files headroom
    if len(rank_rows) <= 64:
        # few files: a literal-map lookup is a PURE PROJECTION — no join, no
        # broadcast exchange re-executed by every downstream job (the
        # branch-heavy wafer pipeline runs ~10 jobs per action; a broadcast
        # join here cost it ~2s at sf0.1)
        mapping = F.create_map(*[x for p, i in rank_rows for x in (F.lit(p), F.lit(i))])
        fidx = F.element_at(mapping, norm)
    else:
        # many files (the 100 TB shape): broadcast hash join on the rank
        # table — one tiny exchange, hash-lookup per row
        file_rank = df.sparkSession.createDataFrame(rank_rows, "__src_norm string, __src_fidx int")
        tagged = tagged.withColumn("__src_norm", norm).join(F.broadcast(file_rank), on="__src_norm")
        fidx = F.col("__src_fidx")
    return (
        tagged.withColumn(ROW_ID, F.shiftleft(fidx.cast("long"), 40) + F.col("__src_pos"))
        .drop("__src_norm", "__src_file", "__src_pos", "__src_fidx")
    )


def _analysed_subset(df: DataFrame, steps: list[str], features: list[str]) -> DataFrame:
    return (
        df.filter((F.col("IS_DEFECT") == "REAL") & F.col("Step_desc").isin(steps))
        .select(ROW_ID, "Step_desc", *features)
        .na.drop("any", subset=features)
    )


def _step_stats(subset: DataFrame, features) -> list:
    """ONE job for every step's mean/stddev_pop/count (map-side combinable,
    |steps| result rows — safe to collect at any scale). Doubles as the
    empty-step guard and the executor venues' auto-mode size probe, and
    populates the persisted narrow subset before any concurrent fits race to
    be first."""
    return (
        subset.groupBy("Step_desc")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            *[F.avg(c).alias(f"m_{c}") for c in features],
            *[F.stddev_pop(c).alias(f"s_{c}") for c in features],
        )
        .collect()
    )


def _predictions_distributed(subset: DataFrame, steps, features, n_clusters, random_state, stats) -> DataFrame | None:
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.ml.clustering import KMeans as MLKMeans
    from pyspark.ml.feature import VectorAssembler

    by_step = {r["Step_desc"]: r for r in stats if r["__n"] > 0}
    todo = [s for s in steps if s in by_step]
    if not todo:
        return None

    def fit_one(step: str) -> DataFrame:
        r = by_step[step]
        # z-score with collected literals (ddof=0 parity; zero-std scales 1.0)
        scaled_cols = [
            (
                (F.col(c) - F.lit(float(r[f"m_{c}"])))
                / F.lit(1.0 if not r[f"s_{c}"] else float(r[f"s_{c}"]))
            ).alias(f"z_{c}")
            for c in features
        ]
        scaled = subset.filter(F.col("Step_desc") == step).select(ROW_ID, *scaled_cols)
        assembled = VectorAssembler(
            inputCols=[f"z_{c}" for c in features], outputCol="__features"
        ).transform(scaled)
        model = MLKMeans(k=n_clusters, seed=random_state, featuresCol="__features").fit(assembled)
        return model.transform(assembled).select(
            ROW_ID, F.col("prediction").cast("int").alias("KMeans_Cluster")
        )

    # per-step models are independent — fit them as concurrent Spark jobs
    with ThreadPoolExecutor(max_workers=len(todo)) as ex:
        preds = list(ex.map(fit_one, todo))
    out = preds[0]
    for p in preds[1:]:
        out = out.unionByName(p)
    return out


def _cluster_step(pdf: pd.DataFrame, features, n_clusters: int, random_state: int) -> pd.DataFrame:
    """One step's labels from the numpy kernel — shared by both venues."""
    pdf = pdf.sort_values(ROW_ID)  # deterministic row order per step
    X = standardize(pdf[list(features)].to_numpy(dtype=np.float64))
    labels = kmeans_fit_predict(X, n_clusters=n_clusters, random_state=random_state)
    return pd.DataFrame({ROW_ID: pdf[ROW_ID].to_numpy(), "KMeans_Cluster": labels.astype(np.int32)})


_PRED_SCHEMA = f"{ROW_ID} long, KMeans_Cluster int"


def _predictions_local(spark, head: pd.DataFrame, features, n_clusters, random_state) -> DataFrame | None:
    if head.empty:
        return None
    parts = [_cluster_step(g, features, n_clusters, random_state) for _, g in head.groupby("Step_desc")]
    return spark.createDataFrame(pd.concat(parts, ignore_index=True), _PRED_SCHEMA)


def _predictions_parity(subset: DataFrame, features, n_clusters, random_state) -> DataFrame:
    feat_list = list(features)
    return subset.groupBy("Step_desc").applyInPandas(
        lambda pdf: _cluster_step(pdf, feat_list, n_clusters, random_state), schema=_PRED_SCHEMA
    )


def run_kmeans_by_step(
    df: DataFrame,
    steps_to_analyse: Iterable[str] | None = None,
    features: Sequence[str] | None = None,
    n_clusters: int = 2,
    random_state: int = 42,
    mode: str = "auto",
    auto_parity_max_rows: int = 1_000_000,
) -> DataFrame:
    """Cluster each analysed step's REAL defects; null label elsewhere.

    Returns the input plus nullable int ``KMeans_Cluster`` (the pandas
    ``Int64`` workaround at reference preprocessing.py:185,207 disappears —
    Spark ints are natively nullable).

    ``mode="auto"`` and ``"parity"`` start with one fetch of at most
    :data:`LOCAL_MAX_ROWS` + 1 analysed rows. At or under the gate (and, in
    auto mode, with no step over ``auto_parity_max_rows``) the fetched
    frame is the whole input: each step runs through the numpy kernel on
    the driver and the labels join back from a local relation. Above it
    the executor venues run as before: the per-step stats probe sends
    steps of at most ``auto_parity_max_rows`` rows to one ``applyInPandas``
    job and larger ones to MLlib; ``mode="distributed"`` always takes
    MLlib. An executor venue persists the narrow analysed subset for the
    duration of the call only: the narrow predictions are pinned with an
    eager ``localCheckpoint`` before the subset is unpersisted, so nothing
    stays in the cache manager after the call returns.
    """
    if mode not in ("auto", "parity", "distributed"):
        raise ValueError(f"unknown clustering mode: {mode!r}")
    steps = list(steps_to_analyse) if steps_to_analyse else DEFAULT_STEPS_TO_ANALYSE
    feats = list(features) if features else CLUSTER_FEATURES

    had_row_id = ROW_ID in df.columns
    base = df if had_row_id else with_row_id(df)
    subset = _analysed_subset(base, steps, feats)

    preds = None
    local = mode != "distributed"
    if local:
        head = subset.limit(LOCAL_MAX_ROWS + 1).toPandas()
        biggest = int(head["Step_desc"].value_counts().max()) if len(head) else 0
        local = len(head) <= LOCAL_MAX_ROWS and (mode == "parity" or biggest <= auto_parity_max_rows)
    if local:
        preds = _predictions_local(df.sparkSession, head, feats, n_clusters, random_state)
    else:
        # Persist the NARROW analysed subset (row id + step + features): the
        # stats job and every per-step fit re-read exactly these columns, and
        # without a reuse point each would recompute the upstream lineage
        # (scan + outlier cascade) per job.
        subset = subset.persist()
        try:
            stats = None
            if mode == "auto":
                stats = _step_stats(subset, feats)
                biggest = max((r["__n"] for r in stats), default=0)
                mode = "parity" if biggest <= auto_parity_max_rows else "distributed"
            if mode == "distributed":
                stats = stats if stats is not None else _step_stats(subset, feats)
                preds = _predictions_distributed(subset, steps, feats, n_clusters, random_state, stats)
            else:
                preds = _predictions_parity(subset, feats, n_clusters, random_state)
            if preds is not None:
                preds = preds.localCheckpoint(eager=True)
        finally:
            subset.unpersist()

    if preds is None:
        out = base.withColumn("KMeans_Cluster", F.lit(None).cast("int"))
    else:
        out = base.join(preds, on=ROW_ID, how="left")
    return out if had_row_id else out.drop(ROW_ID)
