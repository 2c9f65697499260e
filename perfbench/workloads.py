"""The benchmark's workloads: seeded inputs, the entry call, the output
check, and the traced layer chain of each.

``wafer_csv_etl`` is the paper's job: the CLI over a wafer CSV (summary on,
single-CSV sink), checked against the pandas replica of the reference
pipeline. ``llm_curation`` is the registered ``curation_end_to_end`` query
over a generated ``documents`` table, checked against its DuckDB oracle.

Inputs are made only by the repository's own generators
(``tests/wafer_fixture.make_wafer_pdf`` and ``tools/gen_testdata.gen``) and
are cached per seed. The traced chains call each layer's public function in
the order the entry call uses and materialise each output inside a span.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

#: Input sizes. On a 4-core host an execution of either entry call costs
#: ~9-11 s of per-job overhead from 2k to 20k rows, nearly independent of
#: size; these sizes keep a run (set-up, first, warm-up and steady
#: execution) near one minute.
WAFER_ROWS = 5_000
DOCS_SF = 0.02

WORKLOADS = ("wafer_csv_etl", "llm_curation")


def _import_paths() -> None:
    for sub in ("", "tests", "tools"):
        p = str(ROOT / sub) if sub else str(ROOT)
        if p not in sys.path:
            sys.path.insert(0, p)


# --- inputs ------------------------------------------------------------------

def make_inputs(workload: str, seed: int, cache_dir: Path) -> dict:
    """Generate (or reuse) the seeded inputs and the expected output of
    ``workload``. Returns the input record, with ``gen_s`` the time spent
    generating in this call (0 on a cache hit)."""
    _import_paths()
    size = f"rows{WAFER_ROWS}" if workload == "wafer_csv_etl" else f"sf{DOCS_SF:g}"
    d = cache_dir / workload / f"seed{seed}-{size}"
    done = d / "inputs.json"
    if done.exists():
        rec = json.loads(done.read_text())
        rec["gen_s"] = 0.0
        return rec
    d.mkdir(parents=True, exist_ok=True)
    t0 = time.perf_counter()
    if workload == "wafer_csv_etl":
        import pandas as pd
        from pandas_replica import replica_full
        from wafer_fixture import make_wafer_pdf

        csv = d / "wafer.csv"
        make_wafer_pdf(WAFER_ROWS, seed).to_csv(csv, index=False)
        want = replica_full(pd.read_csv(csv))
        want.to_pickle(d / "expected.pkl")
        rec = {"csv": str(csv), "expected": str(d / "expected.pkl"), "rows": WAFER_ROWS}
    elif workload == "llm_curation":
        import contextlib
        import io

        from gen_testdata import gen
        from oracle import duckdb_conn

        from wafer_defect_data_pipeline_spark.plans.registry import _REGISTRY, _load_all

        sf_dir = d / "data"
        with contextlib.redirect_stdout(io.StringIO()):
            gen(DOCS_SF, str(sf_dir), seed)
        _load_all()
        con = duckdb_conn(str(sf_dir))
        try:
            want = con.execute(_REGISTRY["curation_end_to_end"].oracle).fetchdf()
        finally:
            con.close()
        rec = {
            "sf_dir": str(sf_dir),
            "oracle_digest": value_hash(want),
            "oracle_rows": len(want),
            "docs": int(want["n_input"].iloc[0]) if len(want) else 0,
        }
    else:
        raise ValueError(f"unknown workload {workload!r}")
    rec["seed"] = seed
    rec["workload"] = workload
    done.write_text(json.dumps(rec))
    rec["gen_s"] = time.perf_counter() - t0
    return rec


def value_hash(pdf) -> str:
    """Order-insensitive exact digest of a frame (columns by name, every
    value rendered as text), as the registry's oracle checks compare."""
    import pandas as pd

    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_float_dtype(s):
            pdf[c] = s.map(lambda v: repr(float(v)) if pd.notna(v) else "NULL")
        elif pd.api.types.is_integer_dtype(s):
            pdf[c] = s.map(lambda v: str(int(v)) if pd.notna(v) else "NULL")
        else:
            pdf[c] = s.map(lambda v: str(v) if pd.notna(v) else "NULL")
    rows = sorted("|".join(r) for r in pdf.astype(str).itertuples(index=False))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


# --- entry calls and checks --------------------------------------------------

def execute(workload: str, spark, inputs: dict, out_dir: str):
    """One execution of the workload's entry call. Returns what
    :func:`check` needs."""
    if workload == "wafer_csv_etl":
        import contextlib
        import io

        from wafer_defect_data_pipeline_spark import cli

        with contextlib.redirect_stdout(io.StringIO()):
            cli.main(inputs["csv"], out_dir)
        return f"{out_dir}/processed_data.csv"
    from wafer_defect_data_pipeline_spark.plans.registry import _REGISTRY, _load_all

    _load_all()
    df = _REGISTRY["curation_end_to_end"].fn(spark, inputs["sf_dir"])
    df.write.format("noop").mode("overwrite").save()
    return df


def check(workload: str, inputs: dict, produced) -> dict:
    """Compare one execution's output with the expected output. ``ok`` is
    the verdict that counts as a failure when false."""
    if workload == "wafer_csv_etl":
        return check_wafer(produced, inputs["expected"])
    got = produced.toPandas()
    digest = value_hash(got)
    return {
        "ok": digest == inputs["oracle_digest"] and len(got) == inputs["oracle_rows"],
        "digest": digest,
        "rows": len(got),
    }


def check_wafer(out_csv_dir: str, expected_pkl: str) -> dict:
    """The CLI's single CSV against the pandas replica: the kept
    ``DEFECT_ID`` set must match, the derived features must match within
    1e-9 relative, label nulls must sit on the same rows, labels must be 0/1
    and a killer must be REAL. Whether the labels map one-to-one per step is
    reported as ``label_bijection`` (the CLI clusters with MLlib k-means and
    the replica with numpy k-means, which need not agree point for point)."""
    import glob

    import numpy as np
    import pandas as pd

    from wafer_defect_data_pipeline_spark.schema import DERIVED_FEATURES

    parts = glob.glob(os.path.join(out_csv_dir, "*.csv"))
    res: dict = {"files": len(parts)}
    if len(parts) != 1:
        return {**res, "ok": False}
    got = pd.read_csv(parts[0]).set_index("DEFECT_ID").sort_index()
    want = pd.read_pickle(expected_pkl).set_index("DEFECT_ID").sort_index()
    res["rows"] = len(got)
    res["ids_ok"] = len(got) == len(want) and bool((got.index == want.index).all())
    if not res["ids_ok"]:
        return {**res, "ok": False}
    res["features_ok"] = all(
        bool(np.isclose(got[c].to_numpy(float), want[c].to_numpy(float), rtol=1e-9, equal_nan=True).all())
        for c in DERIVED_FEATURES
    )
    g, w = got["KMeans_Cluster"], want["KMeans_Cluster"].astype("float64")
    res["nulls_ok"] = bool(g.isna().equals(w.isna()))
    res["labels_ok"] = bool(g.dropna().isin([0, 1]).all())
    killer = got["is_killer_defect"].astype(str).str.lower() == "true"
    res["killer_real_ok"] = bool((~killer | (got["IS_DEFECT"] == "REAL")).all())
    both = pd.DataFrame({"g": g, "w": w, "s": got["Step_desc"]}).dropna()
    bij = agree = 0
    steps = both.groupby("s")
    for _, grp in steps:
        pairs = set(zip(grp["g"].astype(int), grp["w"].astype(int)))
        bij += len(pairs) == len({a for a, _ in pairs}) == len({b for _, b in pairs})
        same = int((grp["g"] == grp["w"]).sum())
        agree += max(same, len(grp) - same)
    res["label_bijection"] = f"{bij}/{steps.ngroups}"
    res["label_agreement"] = round(agree / max(len(both), 1), 4)
    res["ok"] = all(res[k] for k in ("ids_ok", "features_ok", "nulls_ok", "labels_ok", "killer_real_ok"))
    return res


# --- traced chains -------------------------------------------------------------

def _pin(df):
    """Materialise ``df`` once (lazy local checkpoint plus a count) so the
    next layer starts from its output, not from its lineage."""
    df = df.localCheckpoint(eager=False)
    return df, df.count()


def trace_wafer(spark, inputs: dict, out_dir: str, span) -> tuple[str, dict]:
    """The CLI's layer chain, one span per layer call. Returns the output
    path and the ratio metrics."""
    from wafer_defect_data_pipeline_spark.functions.derived import add_engineered_features
    from wafer_defect_data_pipeline_spark.operators.clustering import ROW_ID, run_kmeans_by_step, with_row_id
    from wafer_defect_data_pipeline_spark.operators.labeling import label_killer_defects
    from wafer_defect_data_pipeline_spark.operators.outliers import remove_outliers_by_group
    from wafer_defect_data_pipeline_spark.schema import CLUSTER_FEATURES, DEFAULT_STEPS_TO_ANALYSE, SIZE_COLUMNS
    from wafer_defect_data_pipeline_spark.sources.csv import load_data
    from wafer_defect_data_pipeline_spark.sources.sinks import write_csv_single

    ratios = {}
    # the scan is counted, not pinned: with_row_id must see the scan itself
    with span("sources.csv.load_data"):
        raw = load_data(spark, inputs["csv"])
        n_raw = raw.count()
    with span("operators.clustering.with_row_id"):
        ided = with_row_id(raw)
        pinned = "_metadata" not in ided._jdf.queryExecution().logical().toString()
        ided, _ = _pin(ided)
    ratios["operators.clustering.with_row_id.pinned"] = {"value": float(pinned), "base": "1 call"}
    with span("operators.outliers.remove_outliers_by_group"):
        kept, n_kept = _pin(remove_outliers_by_group(ided, "Class", SIZE_COLUMNS, mode="exact"))
    ratios["operators.outliers.remove_outliers_by_group.keep_ratio"] = {
        "value": n_kept / n_raw, "base": f"{n_raw} input rows"}
    with span("functions.derived.add_engineered_features"):
        feats, _ = _pin(add_engineered_features(kept))
    with span("operators.clustering.run_kmeans_by_step"):
        clustered, _ = _pin(run_kmeans_by_step(
            feats, DEFAULT_STEPS_TO_ANALYSE, CLUSTER_FEATURES, mode="distributed"))
    with span("operators.labeling.label_killer_defects"):
        labeled, _ = _pin(label_killer_defects(clustered))
    with span("glue.cli_summary"):
        _cli_summary(raw, labeled)
    path = f"{out_dir}/processed_data.csv"
    with span("sources.sinks.write_csv_single"):
        write_csv_single(labeled.drop(ROW_ID), path)
    return path, ratios


def _cli_summary(raw, out) -> None:
    """The summary actions ``cli.main`` runs between the pipeline and the
    sink, so the traced chain does the same work as the entry call."""
    from pyspark.sql import functions as F

    raw.select(sum(F.sum(F.col(c).isNull().cast("long")) for c in raw.columns).alias("n")).first()
    out.groupBy("KMeans_Cluster").count().orderBy(F.desc("count")).collect()
    out.select(F.sum(F.col("is_killer_defect").cast("long")).alias("n")).first()
    out.groupBy("Class").pivot("IS_DEFECT").count().na.fill(0).orderBy("Class").collect()


def trace_curation(spark, inputs: dict, scratch: str, span) -> tuple[object, dict]:
    """``curation_end_to_end``'s layer chain (same planted corpus, same
    stage parameters), one span per layer call; the planted-corpus unions
    and the stage glue run in unnamed ``glue.*`` spans. Returns the
    read-back manifest frame and the ratio metrics."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from wafer_defect_data_pipeline_spark.functions.text import quality_score
    from wafer_defect_data_pipeline_spark.operators.dedup import (
        exact_dedup,
        lsh_verified_pairs,
        minhash_lsh_pairs,
        strip_contaminated_spans,
    )
    from wafer_defect_data_pipeline_spark.operators.graph import cluster_assignment
    from wafer_defect_data_pipeline_spark.operators.packing import pack_concat_chunks
    from wafer_defect_data_pipeline_spark.sources.parquet import read_table
    from wafer_defect_data_pipeline_spark.sources.sinks import write_parquet

    ratios = {}
    with span("sources.parquet.read_table"):
        d, _ = _pin(read_table(spark, inputs["sf_dir"], "documents").select("doc_id", "source", "text"))
    with span("glue.planted_corpus"):
        bench = d.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")
        every25 = d.filter(F.col("doc_id") % 25 == 0)
        corpus = (
            d.unionByName(d.withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000)))
            .unionByName(every25.withColumn("doc_id", F.col("doc_id") + F.lit(2_000_000))
                         .withColumn("text", F.concat(F.col("text"), F.lit(" tail"))))
            .unionByName(every25.withColumn("doc_id", F.col("doc_id") + F.lit(3_000_000))
                         .withColumn("text", F.concat(F.col("text"), F.lit(" tail tail"))))
            .unionByName(
                d.filter(F.col("doc_id") % 97 == 0)
                .withColumn("text", F.concat(F.expr("substring(text, 16)"), F.lit(" q"),
                                             F.col("doc_id").cast("string")))
                .withColumn("doc_id", F.col("doc_id") + F.lit(4_000_000)))
        )
        corpus, n_input = _pin(corpus)
    with span("operators.dedup.exact_dedup"):
        deduped, n_exact = _pin(exact_dedup(corpus, ["text"], "doc_id", unique_order=True))
    lsh = dict(n_hashes=16, n_bands=4, shingle_k=3, threshold=0.6)
    with span("operators.dedup.minhash_lsh_pairs"):
        _, n_cand = _pin(minhash_lsh_pairs(deduped, "doc_id", "text", **lsh))
    with span("operators.dedup.lsh_verified_pairs"):
        pairs, n_verified = _pin(lsh_verified_pairs(deduped, "doc_id", "text", **lsh))
    ratios["operators.dedup.lsh_verified_pairs.verify_yield"] = {
        "value": n_verified / n_cand if n_cand else 0.0, "base": f"{n_cand} candidate pairs"}
    with span("operators.graph.cluster_assignment"):
        labeled, _ = _pin(cluster_assignment(deduped, "doc_id", pairs))
    with span("glue.diversity_cap"):
        w = W.partitionBy("component").orderBy(F.desc(F.length("text")), F.asc("doc_id"))
        capped, n_capped = _pin(
            labeled.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= 2).select("doc_id", "source", "text"))
    with span("functions.text.quality_score"):
        qkept, n_quality = _pin(capped.filter(quality_score("text") >= 0.55))
    with span("operators.dedup.strip_contaminated_spans"):
        train = qkept.filter(~((F.col("doc_id") < 1_000_000) & (F.col("doc_id") % 97 == 0)))
        stripped, _ = _pin(strip_contaminated_spans(train, bench, "doc_id", "text", k=20, min_span=40))
    with span("glue.curated"):
        curated, n_curated = _pin(
            stripped.join(train.select("doc_id", "source"), "doc_id")
            .select("doc_id", "source", F.length("clean_text").alias("clean_len"))
            .filter(F.col("clean_len") >= 20))
    with span("operators.packing.pack_concat_chunks"):
        packed = pack_concat_chunks(curated, "source", "doc_id", "clean_len", seq_len=2048)
        u = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10).cast("long")
        staged, _ = _pin(packed.select(
            "doc_id", "source", "clean_len", "pack_id",
            F.pmod(u, F.lit(16)).cast("int").alias("shard"), u.alias("idhash")))
        n_packs = staged.select("source", "pack_id").distinct().count()
    with span("sources.sinks.write_parquet"):
        write_parquet(staged.repartition("shard"), scratch, partition_by=["shard"])
    back = spark.read.parquet(scratch)
    manifest = (
        back.groupBy("shard").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("clean_len").alias("total_clean_chars"),
            F.sum(F.col("idhash").cast("decimal(38,0)")).cast("string").alias("checksum"))
        .withColumn("n_input", F.lit(n_input).cast("long"))
        .withColumn("n_after_exact", F.lit(n_exact).cast("long"))
        .withColumn("n_after_cap", F.lit(n_capped).cast("long"))
        .withColumn("n_after_quality", F.lit(n_quality).cast("long"))
        .withColumn("n_curated", F.lit(n_curated).cast("long"))
        .withColumn("n_packs", F.lit(n_packs).cast("long"))
    )
    return manifest, ratios
