"""Compile-once: a warm re-execution of a workload finds every generated
class in Spark's codegen cache, so Janino compiles nothing.

Spark's default cache holds 100 classes, and one ``curation_end_to_end``
execution compiles 169: the cache evicted each class before its next use
and every warm execution recompiled ~164 of them. ``session.engine_conf`` sizes
the cache from a measured census; these tests pin the outcome."""

from __future__ import annotations

from wafer_defect_data_pipeline_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    codegen_compiles,
    engine_conf,
)

from .wafer_fixture import make_wafer_pdf


def _compiles(spark, run) -> int:
    before = codegen_compiles(spark)[0]
    run()
    return codegen_compiles(spark)[0] - before


def test_session_reports_the_cache_size(spark):
    key = "spark.sql.codegen.cache.maxEntries"
    assert engine_conf()[key] == str(CODEGEN_CACHE_ENTRIES)
    assert spark.conf.get(key) == str(CODEGEN_CACHE_ENTRIES)
    spark.range(3).selectExpr("id + 1").collect()
    count, ms = codegen_compiles(spark)
    assert count > 0 and ms > 0  # the JVM compiled that projection, now or earlier


def test_warm_curation_compiles_nothing(spark, sf_small):
    from wafer_defect_data_pipeline_spark.plans.registry import all_queries

    q = all_queries()["curation_end_to_end"]

    def run():
        q(spark, sf_small).write.format("noop").mode("overwrite").save()

    run()
    assert _compiles(spark, run) == 0


def test_warm_cli_compiles_nothing(spark, tmp_path, capsys):
    from wafer_defect_data_pipeline_spark.cli import main

    path = tmp_path / "wafer.csv"
    make_wafer_pdf(2000).to_csv(path, index=False)

    def run():
        main(str(path), output_dir=str(tmp_path / "out"))

    run()
    assert _compiles(spark, run) == 0
    capsys.readouterr()
