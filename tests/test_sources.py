"""Source/sink layer tests (SURVEY.md §2.1 S1-S6)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wafer_defect_data_pipeline_spark.sources.csv import load_data, load_wafer_csv
from wafer_defect_data_pipeline_spark.sources.sinks import (
    write_csv,
    write_csv_single,
    write_parquet,
)
from tests.wafer_fixture import make_wafer_pdf


@pytest.fixture(scope="module")
def wafer_csv(tmp_path_factory):
    path = tmp_path_factory.mktemp("csv") / "dataset.csv"
    make_wafer_pdf(200).to_csv(path, index=False)
    return str(path)


def test_cli_leaves_the_host_session_confs(spark, wafer_csv, tmp_path, capsys):
    """``get_spark`` returns an active session as it is, so ``cli.main``
    run inside a host session keeps the host's runtime confs rather than
    re-applying ``engine_conf`` (which sets the cpu count)."""
    from wafer_defect_data_pipeline_spark.cli import main

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "8")
    try:
        main(wafer_csv, output_dir=str(tmp_path / "out"), show_summary=False)
        assert spark.conf.get(key) == "8"
    finally:
        spark.conf.set(key, old)
    capsys.readouterr()


def test_csv_scan_with_schema(spark, wafer_csv):
    df = load_wafer_csv(spark, wafer_csv)
    assert df.count() == 200
    # explicit schema, not inference: numeric features must be double
    assert dict(df.dtypes)["SIZE_X"] == "double"
    assert dict(df.dtypes)["IS_DEFECT"] == "string"


def test_missing_file_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        load_data(spark, str(tmp_path / "nope.csv"))


def test_empty_file_raises(spark, tmp_path):
    p = tmp_path / "empty.csv"
    p.write_text("")
    with pytest.raises(ValueError):
        load_data(spark, str(p))


def test_csv_sink_roundtrip(spark, wafer_csv, tmp_path):
    df = load_wafer_csv(spark, wafer_csv)
    out = str(tmp_path / "out_csv")
    write_csv(df.select("Class", "SIZE_X"), out)
    back = spark.read.option("header", True).csv(out)
    assert back.count() == 200


def test_csv_single_file_sink(spark, wafer_csv, tmp_path):
    df = load_wafer_csv(spark, wafer_csv)
    out = tmp_path / "single"
    write_csv_single(df.select("Class"), str(out))
    parts = [p for p in out.iterdir() if p.name.endswith(".csv")]
    assert len(parts) == 1  # reference-parity single file


def test_csv_single_file_sink_utf8_sig_parity(spark, wafer_csv, tmp_path):
    """Reference sink parity: main.py:110 writes encoding='utf-8-sig' so
    Excel detects UTF-8 via the BOM. bom=True must produce byte-identical
    framing: BOM prefix + plain UTF-8 body, round-trippable by pandas with
    encoding='utf-8-sig' (which strips the BOM like the reference's own
    read path would)."""
    import pandas as pd

    df = load_wafer_csv(spark, wafer_csv)
    out = tmp_path / "single_bom"
    write_csv_single(df.select("Class").orderBy("Class"), str(out), bom=True)
    [part] = [p for p in out.iterdir() if p.name.endswith(".csv")]
    raw = part.read_bytes()
    assert raw.startswith(b"\xef\xbb\xbf")
    assert raw.count(b"\xef\xbb\xbf") == 1  # BOM once, at the front only
    back = pd.read_csv(part, encoding="utf-8-sig")
    assert list(back.columns) == ["Class"]
    assert len(back) == 200


def test_csv_single_bom_guards_nonlocal_and_append(spark, wafer_csv, tmp_path):
    """bom=True is a driver-side local-file rewrite: a non-local URI or an
    append must fail UP FRONT with a clear error, not after Spark wrote
    data (r7 advice — os.listdir on s3a:// would FileNotFoundError and the
    single-element unpack would ValueError on leftover part files)."""
    import pytest as _pytest

    df = load_wafer_csv(spark, wafer_csv).select("Class")
    with _pytest.raises(ValueError, match="scheme"):
        write_csv_single(df, "s3a://bucket/out", bom=True)
    with _pytest.raises(ValueError, match="overwrite"):
        write_csv_single(df, str(tmp_path / "x"), mode="append", bom=True)
    # file:// local scheme is accepted and works end to end
    out = tmp_path / "single_bom_scheme"
    write_csv_single(df, f"file://{out}", bom=True)
    [part] = [p for p in out.iterdir() if p.name.endswith(".csv")]
    assert part.read_bytes().startswith(b"\xef\xbb\xbf")


def test_csv_single_bom_resolves_bare_path_against_default_fs(spark, wafer_csv, tmp_path):
    """A BARE path (no scheme) resolves against the Hadoop defaultFS, not
    the local filesystem: with fs.defaultFS=hdfs://... the part file would
    land where the driver-side BOM rewrite can't reach it, so the guard
    must reject it up front (r9 advice). With the local default it still
    works end to end."""
    import pytest as _pytest

    df = load_wafer_csv(spark, wafer_csv).select("Class")
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old = hconf.get("fs.defaultFS", "file:///")
    hconf.set("fs.defaultFS", "hdfs://namenode:8020")
    try:
        with _pytest.raises(ValueError, match="scheme"):
            write_csv_single(df, str(tmp_path / "bare"), bom=True)
    finally:
        hconf.set("fs.defaultFS", old)
    out = tmp_path / "bare_local_default"
    write_csv_single(df, str(out), bom=True)
    [part] = [p for p in out.iterdir() if p.name.endswith(".csv")]
    assert part.read_bytes().startswith(b"\xef\xbb\xbf")


def test_partitioned_parquet_write(spark, wafer_csv, tmp_path):
    df = load_wafer_csv(spark, wafer_csv)
    out = tmp_path / "part_parquet"
    write_parquet(df, str(out), partition_by=["Class"])
    # hive-style partition dirs exist and partition pruning sees them
    assert any(p.name.startswith("Class=") for p in out.iterdir())
    back = spark.read.parquet(str(out)).filter(F.col("Class") == 1)
    assert back.count() == df.filter(F.col("Class") == 1).count()


def test_cli_main_end_to_end(spark, wafer_csv, tmp_path, capsys):
    from wafer_defect_data_pipeline_spark.cli import main

    out = main(wafer_csv, output_dir=str(tmp_path / "out"), save_processed=True, show_summary=True)
    assert "is_killer_defect" in out.columns and "KMeans_Cluster" in out.columns
    printed = capsys.readouterr().out
    assert "[load] rows=200" in printed and "loss=" in printed and "[sink]" in printed
    # the summary lines derived driver-side from the one grouped count
    assert "[clusters] distribution" in printed and "  cluster=" in printed
    assert "[killer] flagged=" in printed
    assert "[crosstab] Class x IS_DEFECT:" in printed and "|Class|FALSE|REAL|" in printed
    csvs = list((tmp_path / "out" / "processed_data.csv").glob("*.csv"))
    assert len(csvs) == 1


def test_cli_table_renders_like_show(spark, capsys):
    """The CLI prints its crosstab without a Spark job; the text must be
    what ``DataFrame.show(truncate=False)`` prints for the same rows."""
    from wafer_defect_data_pipeline_spark.cli import _print_table

    for rows in ([[1, 626, 467], [None, 5, 0], [12, 3, 123456789]], [[i, i, 0] for i in range(25)]):
        spark.createDataFrame(rows, "Class int, FALSE long, REAL long").show(truncate=False)
        want = capsys.readouterr().out
        _print_table(["Class", "FALSE", "REAL"], rows)
        assert capsys.readouterr().out == want


def test_cli_main_matches_replica(spark, wafer_csv, tmp_path, capsys):
    """The CLI's single CSV against the pandas replica of the reference:
    same kept DEFECT_IDs, derived features within 1e-9, and — since steps
    under the auto-mode size gate cluster with the replica's own k-means
    kernel in file-row order — identical labels on every analysed step.

    The replica reads the CSV with correctly rounded float parsing, as the
    JVM does: pandas' default parser can be 1 ulp off, and on a tiny step
    that flips which of two mirror-image restarts has the lower inertia,
    swapping the arbitrary cluster ids."""
    import numpy as np
    import pandas as pd

    from tests.pandas_replica import replica_full
    from wafer_defect_data_pipeline_spark.cli import main
    from wafer_defect_data_pipeline_spark.schema import DERIVED_FEATURES

    main(wafer_csv, output_dir=str(tmp_path / "out"))
    printed = capsys.readouterr().out
    [part] = (tmp_path / "out" / "processed_data.csv").glob("*.csv")
    got = pd.read_csv(part).set_index("DEFECT_ID").sort_index()
    want = replica_full(pd.read_csv(wafer_csv, float_precision="round_trip")).set_index("DEFECT_ID").sort_index()
    assert list(got.index) == list(want.index)
    for c in DERIVED_FEATURES:
        assert np.allclose(got[c], want[c].astype(float), rtol=1e-9, atol=0, equal_nan=True), c
    g, w = got["KMeans_Cluster"], want["KMeans_Cluster"].astype("float64")
    assert g.isna().equals(w.isna())
    labeled = w.notna()
    assert labeled.any()
    for step, grp in got.loc[labeled].groupby("Step_desc"):
        assert (grp["KMeans_Cluster"] == w[grp.index]).all(), step
    killer = got["is_killer_defect"].astype(str).str.lower() == "true"
    assert (killer == want["is_killer_defect"].astype(bool)).all()
    # the summary derived from the one grouped count matches the output
    assert f"[outliers] rows={len(want)} " in printed
    assert f"[killer] flagged={int(killer.sum())} " in printed


def test_json_roundtrip(spark, wafer_csv, tmp_path):
    from wafer_defect_data_pipeline_spark.sources.sinks import write_json

    df = load_wafer_csv(spark, wafer_csv).select("Class", "SIZE_X", "IS_DEFECT")
    out = str(tmp_path / "json_out")
    write_json(df, out)
    back = spark.read.json(out)
    assert back.count() == 200
    assert set(back.columns) == {"Class", "SIZE_X", "IS_DEFECT"}


def test_compact_parquet_reduces_file_count(spark, wafer_csv, tmp_path):
    from wafer_defect_data_pipeline_spark.sources.sinks import compact_parquet

    df = load_wafer_csv(spark, wafer_csv)
    frag = str(tmp_path / "fragmented")
    df.repartition(40).write.parquet(frag)  # 40 tiny files
    n_in = len(list((tmp_path / "fragmented").glob("*.parquet")))
    assert n_in >= 30
    n_out = compact_parquet(spark, frag, str(tmp_path / "compact"))
    assert n_out == 1  # tiny dataset -> single right-sized file
    back = spark.read.parquet(str(tmp_path / "compact"))
    assert back.count() == df.count()


def test_default_data_path_resolution(spark, wafer_csv, tmp_path, monkeypatch, capsys):
    """S3 parity (reference data_loader.py:23-27): ``data_path=None`` resolves
    to ``<repo root>/dataset.csv`` — the same "two levels up from the loader"
    rule the reference's DataLoader uses — so ``main()`` runs with no args
    exactly like the reference's ``main()`` (main.py:135-137)."""
    from pathlib import Path

    import wafer_defect_data_pipeline_spark.sources.csv as csv_mod
    from wafer_defect_data_pipeline_spark.cli import main

    # the shipped constant points at the project root, not inside the package
    pkg_root = Path(csv_mod.__file__).resolve().parent.parent
    assert csv_mod.DEFAULT_DATA_PATH == pkg_root.parent / "dataset.csv"

    # redirect the default to a fixture dataset.csv and invoke main() bare
    monkeypatch.setattr(csv_mod, "DEFAULT_DATA_PATH", Path(wafer_csv))
    out = main(output_dir=str(tmp_path / "out"), save_processed=False, show_summary=False)
    assert out.count() > 0 and "KMeans_Cluster" in out.columns

    # without the redirect and no root dataset.csv, the error names the default
    monkeypatch.setattr(csv_mod, "DEFAULT_DATA_PATH", tmp_path / "absent.csv")
    with pytest.raises(FileNotFoundError, match="absent.csv"):
        load_data(spark, None)
