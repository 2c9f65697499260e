"""Round-8 scale series on the STABLE-SEED localdata (sf1/sf3).

The r6/r7 sf1+sf3 tables in BASELINE.md were measured on parquet generated
before the crc32 seed fix (reproducible on that host only). This script
reruns the span + ANN + density-dispatch series ONCE on the regenerated
byte-stable data, producing the new comparison anchor (r7 verdict item 5),
plus the spill-hardening experiment for the sf3 span window (item 6).

Usage:
    python tools/bench_scale_r8.py span   localdata/sf1
    python tools/bench_scale_r8.py ann    localdata/sf3
    python tools/bench_scale_r8.py spill  localdata/sf3 [n_partitions ...]
    python tools/bench_scale_r8.py choose localdata/sf3

Each query runs twice (cold then warm) through the noop sink; one JSON
line per mode is printed at the end.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

_REPO_ROOT = str(Path(__file__).resolve().parent.parent)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from pyspark.sql import functions as F  # noqa: E402

from wafer_defect_data_pipeline_spark.plans.registry import all_queries  # noqa: E402
from wafer_defect_data_pipeline_spark.session import get_spark  # noqa: E402

SPAN = [
    "dedup_duplicated_spans",
    "dedup_strip_spans",
    "text_contamination_spans",
    "text_decontaminate_strip",
    "dedup_incremental_spans",
    "dedup_incremental_spans_merged",
    "dedup_span_stats",
]
ANN = [
    "similarity_bruteforce_topk",
    "similarity_ivfpq_topk",
    "similarity_nsw_topk",
    "dedup_jaccard_pairs_auto",
]
# round-8 session-3 families: entity resolution, LR training, HTML strip
S3 = [
    "entity_matches_blocked",
    "entity_matches_sorted",
    "entity_clusters",
    "entity_golden_records",
    "training_lr_quality",
    "training_lr_scores",
    "text_html_strip",
    "entity_incremental_clusters",
    "multimodal_image_phash_pairs",
    "multimodal_audio_fingerprint_pairs",
]


def _time_one(spark, fn, sf_dir) -> dict[str, float]:
    out = {}
    for phase in ("cold", "warm"):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        out[phase] = round(time.perf_counter() - t0, 2)
    return out


def _span_corpus(spark, sf_dir):
    from wafer_defect_data_pipeline_spark.sources import read_table

    d = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    tail = d.select(
        (F.col("doc_id") + F.lit(2_000_000)).alias("doc_id"),
        F.expr("substring(text, 31)").alias("text"),
    )
    return d.unionByName(tail)


def main() -> None:
    mode, sf_dir = sys.argv[1], sys.argv[2]
    spark = get_spark(app_name=f"scale-r8-{mode}")
    spark.read.parquet(f"{sf_dir}/region.parquet").count()  # warm JVM

    if mode in ("span", "ann", "s3"):
        reg = all_queries()
        res = {}
        for n in {"span": SPAN, "ann": ANN, "s3": S3}[mode]:
            res[n] = _time_one(spark, reg[n], sf_dir)
            print(f"## {n}: {res[n]}", flush=True)
        print(json.dumps({"mode": mode, "sf_dir": sf_dir, "results": res}))
    elif mode == "choose":
        from wafer_defect_data_pipeline_spark.operators.dedup import (
            probe_span_strategy,
        )

        corpus = _span_corpus(spark, sf_dir)
        t0 = time.perf_counter()
        choice = probe_span_strategy(corpus, "doc_id", "text", k=20)[0]
        print(
            json.dumps(
                {
                    "mode": "choose",
                    "sf_dir": sf_dir,
                    "choice": choice,
                    "probe_sec": round(time.perf_counter() - t0, 2),
                }
            )
        )
    elif mode == "spill":
        # r7 verdict item 6: the sf3 window-shape cold<warm inversion was
        # diagnosed as the gh-window sort fighting the heap at 32 shuffle
        # partitions; if that's right, more (smaller) sort partitions
        # should remove the inversion without changing the answer.
        from wafer_defect_data_pipeline_spark.operators.dedup import (
            duplicated_spans,
        )

        parts = [int(x) for x in sys.argv[3:]] or [32, 128, 256]
        corpus = _span_corpus(spark, sf_dir)
        res = {}
        for p in parts:
            spark.conf.set("spark.sql.shuffle.partitions", str(p))
            df = duplicated_spans(
                corpus, "doc_id", "text", k=20, min_span=40, strategy="window"
            )
            timings = {}
            for phase in ("cold", "warm"):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                timings[phase] = round(time.perf_counter() - t0, 2)
            n_spans = df.count()
            res[str(p)] = {**timings, "n_spans": n_spans}
            print(f"## partitions={p}: {res[str(p)]}", flush=True)
        print(json.dumps({"mode": "spill", "sf_dir": sf_dir, "results": res}))
    else:
        raise SystemExit(f"unknown mode {mode!r}")
    spark.stop()


if __name__ == "__main__":
    main()
