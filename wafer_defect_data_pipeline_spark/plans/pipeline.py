"""Wafer-defect pipeline orchestration (reference O1-O3).

``WaferPipeline`` mirrors the reference ``DataPreprocessor``
(``/root/reference/src/preprocessing.py:46-283``): constructor injection of
``size_columns`` / ``cluster_features`` / ``steps_to_analyse``, flag-gated
``preprocess``, and the same stage order — outliers → derived features →
per-step KMeans → killer labeling. The result is one lazy DataFrame; the
only action ``preprocess`` runs itself is the k-means fetch (or, above its
row gate, the per-step stats probe), which also fills the pin of the pre-clustering frame (see
:func:`cascade_pin_allowed`), so the caller's later actions read the
outlier cascade from the pin instead of re-running it.

Module-level functional wrappers mirror the reference's functional API
(preprocessing.py:287-355), including its quirk that the wrapper form of
``run_kmeans_by_step`` does not expose ``random_state``.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame

from ..functions.derived import add_engineered_features
from ..functions.partitioning import scan_bytes
from ..operators.clustering import ROW_ID as _ROW_ID
from ..operators.clustering import run_kmeans_by_step as _run_kmeans
from ..operators.clustering import with_row_id as _with_row_id
from ..operators.labeling import label_killer_defects as _label_killer
from ..operators.outliers import remove_outliers_by_group
from ..schema import CLUSTER_FEATURES, DEFAULT_STEPS_TO_ANALYSE, SIZE_COLUMNS


#: the byte gate of :func:`cascade_pin_allowed` (4 GiB of scan files)
PIN_MAX_BYTES = 4 << 30


def cascade_pin_allowed(df: DataFrame) -> bool:
    """The byte gate of the wafer plans' cascade pin: True iff ``df``'s
    :func:`~..functions.partitioning.scan_bytes` is known and under
    ``PIN_MAX_BYTES``. The pin writes the filtered table to executor
    storage; past the gate, re-deriving it from the columnar scan is the
    cheaper side. A frame with no input files counts as 0 bytes, so it is
    pinned under any positive gate; an unknown size counts as large, so
    that frame is not pinned.
    """
    total = scan_bytes(df)
    return total is not None and total < PIN_MAX_BYTES


class WaferPipeline:
    def __init__(
        self,
        size_columns: Iterable[str] | None = None,
        cluster_features: Iterable[str] | None = None,
        steps_to_analyse: Iterable[str] | None = None,
        clustering_mode: str = "auto",
        quantile_mode: str = "exact",
    ) -> None:
        self.size_columns = list(size_columns) if size_columns else list(SIZE_COLUMNS)
        self.cluster_features = list(cluster_features) if cluster_features else list(CLUSTER_FEATURES)
        self.steps_to_analyse = list(steps_to_analyse) if steps_to_analyse else list(DEFAULT_STEPS_TO_ANALYSE)
        self.clustering_mode = clustering_mode
        self.quantile_mode = quantile_mode

    def remove_outliers_by_class(self, df: DataFrame, columns: Iterable[str] | None = None) -> DataFrame:
        cols = list(columns) if columns else self.size_columns
        return remove_outliers_by_group(df, "Class", cols, mode=self.quantile_mode)

    def add_engineered_features(self, df: DataFrame) -> DataFrame:
        return add_engineered_features(df)

    def run_kmeans_by_step(
        self,
        df: DataFrame,
        steps_to_analyse: Iterable[str] | None = None,
        features: Sequence[str] | None = None,
        n_clusters: int = 2,
        random_state: int = 42,
    ) -> DataFrame:
        return _run_kmeans(
            df,
            steps_to_analyse or self.steps_to_analyse,
            features or self.cluster_features,
            n_clusters=n_clusters,
            random_state=random_state,
            mode=self.clustering_mode,
        )

    def label_killer_defects(self, df: DataFrame, mapping: dict[str, int] | None = None) -> DataFrame:
        return _label_killer(df, mapping)

    def preprocess(
        self,
        df: DataFrame,
        remove_outliers: bool = True,
        add_features: bool = True,
        run_clustering: bool = True,
        label_killer: bool = True,
    ) -> DataFrame:
        out = df
        # attach the clustering write-back row id before any join hides the
        # scan's _metadata column — pin-free on file sources (clustering.py)
        attached_id = run_clustering and _ROW_ID not in out.columns
        pin = run_clustering and cascade_pin_allowed(df)
        if attached_id:
            out = _with_row_id(out)
        if remove_outliers:
            out = self.remove_outliers_by_class(out)
        if add_features:
            out = self.add_engineered_features(out)
        if run_clustering:
            # Unpinned, the k-means fetch and every later action over the
            # result (the CLI's summary, its sink) re-run the lazy cascade.
            # The pin call runs the cascade's shuffle stages (AQE finalizes
            # the plan there) and the fetch fills the rest, so the cascade
            # runs once.
            if pin:
                out = out.localCheckpoint(eager=False)
            out = self.run_kmeans_by_step(out)
        if label_killer:
            out = self.label_killer_defects(out)
        return out.drop(_ROW_ID) if attached_id else out


# --- functional wrappers (reference preprocessing.py:287-355) ---------------

def remove_outliers_by_class(df: DataFrame, columns: Iterable[str] | None = None) -> DataFrame:
    return WaferPipeline().remove_outliers_by_class(df, columns)


def add_features(df: DataFrame) -> DataFrame:
    return WaferPipeline().add_engineered_features(df)


def run_kmeans_by_step(
    df: DataFrame,
    steps_to_analyse: Iterable[str] | None = None,
    features: Sequence[str] | None = None,
    n_clusters: int = 2,
) -> DataFrame:
    # reference wrapper drops random_state (preprocessing.py:317-338) — kept
    return WaferPipeline().run_kmeans_by_step(df, steps_to_analyse, features, n_clusters)


def label_killer_defects(df: DataFrame, mapping: dict[str, int] | None = None) -> DataFrame:
    return WaferPipeline().label_killer_defects(df, mapping)
