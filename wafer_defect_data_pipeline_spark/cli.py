"""CLI entry point — the engine's equivalent of the reference's ``main.py``.

Functional parity with ``/root/reference/main.py:14-132``: load a wafer CSV
(validated), run the four pipeline stages, print per-stage summary metrics
(row counts, loss rate, cluster distribution, killer counts), and sink the
processed table. Flags mirror the reference's ``main(data_path, output_dir,
save_processed, show_summary)`` signature.

Job shape (19 Spark jobs per execution at 5k rows): the load check, ONE
aggregate over the raw scan for the row and null counts, the k-means fetch
inside ``preprocess`` — which also fills the pin of the pre-clustering
frame (whose call already ran the cascade's shuffle stages), so the outlier
cascade runs once (behind the ``pipeline.PIN_MAX_BYTES`` scan-bytes gate,
see ``plans.pipeline.cascade_pin_allowed``) — ONE grouped count over the cached
result, from which the driver derives every summary line and the crosstab,
and the sink. Up to ``clustering.LOCAL_MAX_ROWS`` analysed rows the fetch is
the whole k-means input and the numpy kernel runs on the driver (no Python
worker); above it, steps of up to 1M analysed rows cluster in one
Arrow/numpy job and MLlib takes over past that
(``run_kmeans_by_step(mode="auto")``).

Usage::

    python -m wafer_defect_data_pipeline_spark.cli dataset.csv \
        --output-dir processed_data [--no-save] [--no-summary] [--parquet]
"""

from __future__ import annotations

import argparse
from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .plans.pipeline import WaferPipeline
from .session import get_spark
from .sources.csv import load_data
from .sources.sinks import write_csv_single, write_parquet


def _print_table(header: list[str], rows: list[list]) -> None:
    """Print ``rows`` the way ``DataFrame.show(truncate=False)`` renders
    them, without a Spark job."""
    shown = [[("NULL" if v is None else str(v)) for v in r] for r in rows[:20]]
    widths = [max(3, len(h), *(len(r[i]) for r in shown)) for i, h in enumerate(header)]
    sep = "+" + "+".join("-" * w for w in widths) + "+"

    def line(cells):
        return "|" + "|".join(c.ljust(w) for c, w in zip(cells, widths)) + "|"

    table = "\n".join([sep, line(header), sep, *map(line, shown), sep]) + "\n"
    print(table + ("only showing top 20 rows" if len(rows) > 20 else ""))


def _print_out_summary(out: DataFrame, n_raw: int) -> None:
    """Every post-pipeline summary line from ONE grouped count collect
    (|clusters| x 2 x |Class| x |IS_DEFECT| rows)."""
    rows = out.groupBy("KMeans_Cluster", "is_killer_defect", "Class", "IS_DEFECT").count().collect()
    n_out = sum(r["count"] for r in rows)
    loss = (n_raw - n_out) / n_raw * 100 if n_raw else 0.0
    # outlier loss is the only row-dropping stage, so raw-vs-final
    # row delta is the filter's loss rate (reference prints 19.06%)
    print(f"[outliers] rows={n_out} loss={loss:.2f}%")
    print("[clusters] distribution (null = not in an analysed step):")
    clusters = Counter()
    for r in rows:
        clusters[r["KMeans_Cluster"]] += r["count"]
    for c, n in sorted(clusters.items(), key=lambda kv: (-kv[1], kv[0] is not None, kv[0])):
        print(f"  cluster={c} n={n}")
    n_killer = sum(r["count"] for r in rows if r["is_killer_defect"])
    print(f"[killer] flagged={n_killer} ({n_killer / n_out * 100 if n_out else 0:.2f}%)")
    print("[crosstab] Class x IS_DEFECT:")
    # groupBy(Class).pivot(IS_DEFECT).count().na.fill(0).orderBy(Class):
    # pivot columns are the sorted distinct values (null first, named
    # "null"), and the fill also zeroes a null Class
    cross = Counter()
    for r in rows:
        cross[(0 if r["Class"] is None else r["Class"], r["IS_DEFECT"])] += r["count"]
    values = sorted({v for _, v in cross}, key=lambda v: (v is not None, v))
    _print_table(
        ["Class", *("null" if v is None else v for v in values)],
        [[c, *(cross[(c, v)] for v in values)] for c in sorted({c for c, _ in cross})],
    )


def main(
    data_path: str | None = None,
    output_dir: str = "processed_data",
    save_processed: bool = True,
    show_summary: bool = True,
    parquet: bool = False,
) -> DataFrame:
    spark = get_spark(app_name="wafer-pipeline-cli")
    raw = load_data(spark, data_path)

    if show_summary:
        load = raw.select(
            F.count(F.lit(1)).alias("rows"),
            sum(F.sum(F.col(c).isNull().cast("long")) for c in raw.columns).alias("nulls"),
        ).first()
        print(f"[load] rows={load['rows']} cols={len(raw.columns)}")
        print(f"[load] total nulls={load['nulls']}")

    pipeline = WaferPipeline()
    out = pipeline.preprocess(raw).cache()

    try:
        if show_summary:
            _print_out_summary(out, load["rows"])

        if save_processed:
            if parquet:
                write_parquet(out, f"{output_dir}/processed_data.parquet")
            else:
                # reference-parity single CSV; use --parquet for the scale sink
                write_csv_single(out, f"{output_dir}/processed_data.csv")
            print(f"[sink] wrote {output_dir}")
        return out
    finally:
        out.unpersist()


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument(
        "data_path",
        nargs="?",
        default=None,
        help="wafer CSV path (default: <repo root>/dataset.csv, reference parity)",
    )
    p.add_argument("--output-dir", default="processed_data")
    p.add_argument("--no-save", action="store_true")
    p.add_argument("--no-summary", action="store_true")
    p.add_argument("--parquet", action="store_true", help="parquet sink instead of single CSV")
    return p


if __name__ == "__main__":
    args = _build_parser().parse_args()
    main(
        args.data_path,
        output_dir=args.output_dir,
        save_processed=not args.no_save,
        show_summary=not args.no_summary,
        parquet=args.parquet,
    )
