"""Source/sink queries (SURVEY.md §2 S1-S6) made driver-visible.

The validated CSV reader (``sources/csv.py``, reference
``/root/reference/src/data_loader.py:11-77``) and the CSV sink
(``sources/sinks.py``, reference ``main.py:104-111``) previously had only
pytest coverage. ``csv_roundtrip`` exercises the full S1+S2+S5 path under
the driver: write a deterministic table slice to CSV, read it back through
the validated loader with an explicit schema, and oracle the result against
the original parquet — round-trip fidelity is exactly the contract a
source/sink pair must keep.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..scratch import run_dir
from ..sources import read_table
from ..sources.csv import load_wafer_csv
from ..sources.sinks import write_csv_single
from .registry import register

# Mirrors the driver nation.parquet footer exactly (int32 keys) so the
# CSV read-back schema round-trips bit-for-bit against the parquet oracle.
_NATION_SCHEMA = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType()),
        T.StructField("n_name", T.StringType()),
        T.StructField("n_regionkey", T.IntegerType()),
    ]
)


def _csv_roundtrip(spark, sf_dir):
    """S1/S2/S5: CSV sink -> validated CSV source -> same rows as parquet.

    The temp path is a fresh ``run_dir``, private to the call and removed
    at process exit. ``write_csv_single``
    is the reference-parity single-file sink (fine here: nation is 25
    rows); the read-back uses the explicit schema so the scan is
    single-pass (no inference job).
    """
    n = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    out = run_dir("csv_roundtrip")
    write_csv_single(n, out)
    df = load_wafer_csv(spark, out, schema=_NATION_SCHEMA)
    return df.orderBy("n_nationkey")


register(
    "csv_roundtrip",
    _csv_roundtrip,
    """
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation ORDER BY n_nationkey
    """,
)


_REGION_SCHEMA = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType()),
        T.StructField("r_name", T.StringType()),
    ]
)


def _json_roundtrip(spark, sf_dir):
    """JSON sink -> schema'd JSON source -> same rows as parquet.

    Explicit schema on the read so there is no inference pass (JSON
    inference reads the whole dataset twice — never acceptable at scale).
    """
    from ..sources.sinks import write_json

    r = read_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    out = run_dir("json_roundtrip")
    write_json(r, out)
    return spark.read.schema(_REGION_SCHEMA).json(out).orderBy("r_regionkey")


register(
    "json_roundtrip",
    _json_roundtrip,
    """
    SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey
    """,
)


def _partitioned_pruned_read(spark, sf_dir):
    """Hive-partitioned parquet write + partition-pruned read.

    documents written partitioned by ``lang``; the read filters one lang, so
    the scan lists ONE partition directory (PartitionFilters in the plan —
    asserted by the plan-shape test). This is the layout a 100 TB corpus
    actually uses: partition by coarse key, prune at planning time, never
    touch the other partitions' files.
    """
    from ..sources.sinks import write_parquet

    d = read_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    out = run_dir("part_docs")
    write_parquet(d, out, partition_by=["lang"])
    back = spark.read.parquet(out).filter(F.col("lang") == "de")
    return back.select("doc_id", "lang", "source").orderBy("doc_id")


register(
    "partitioned_pruned_read",
    _partitioned_pruned_read,
    """
    SELECT doc_id, lang, source FROM documents WHERE lang = 'de' ORDER BY doc_id
    """,
)


def _orc_roundtrip(spark, sf_dir):
    """ORC sink -> schema'd ORC source -> same rows as parquet.

    ORC is the other columnar format a lakehouse ingests from (Hive-era
    warehouses); Spark's reader is JVM-native with predicate pushdown and
    column pruning exactly like parquet, so supporting it is one writer call
    — no new execution path.
    """
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    out = run_dir("orc_roundtrip")
    n.write.mode("overwrite").orc(out)
    back = spark.read.schema(n.schema).orc(out)
    return back.orderBy("n_nationkey")


register(
    "orc_roundtrip",
    _orc_roundtrip,
    """
    SELECT n_nationkey, n_name, n_regionkey
    FROM nation ORDER BY n_nationkey
    """,
)


def _bucketed_join_zeroshuffle(spark, sf_dir):
    """Co-located join over bucketed tables — the pay-shuffle-once layout.

    Writes orders and lineitem bucketed (and sorted) by the join key into
    warehouse tables, then joins and aggregates. Because both sides carry
    the same bucket spec (8 buckets on the key), Catalyst plans the join
    with ZERO Exchange on either side — the shuffle was paid once at write
    time, and every subsequent join/agg on that key is exchange-free. At
    100 TB this is the difference between re-shuffling the fact table per
    query and never shuffling it again (SURVEY.md §7.7); the plan-shape
    test asserts the no-Exchange property. The aggregate keys on the bucket
    column, so the partial agg also reuses the bucket partitioning.

    Results are bucketing-invariant, so the oracle is the plain SQL join —
    correctness and layout are checked independently.
    """
    from ..sources.bucketed import read_bucketed, write_bucketed

    tag = Path(sf_dir).name.replace(".", "_")
    base = Path(run_dir("bucketed"))
    to, tl = f"wdps_orders_b_{tag}", f"wdps_lineitem_b_{tag}"
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    for t in (to, tl):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    write_bucketed(o, to, ["o_orderkey"], 8, path=str(base / "orders"))
    write_bucketed(li, tl, ["l_orderkey"], 8, path=str(base / "lineitem"))
    ob, lb = read_bucketed(spark, to), read_bucketed(spark, tl)
    # merge hint: at test SFs the orders side fits the broadcast threshold
    # and AQE would elide the layout we're demonstrating; at 100 TB neither
    # side broadcasts and sort-merge over matching buckets IS the plan. The
    # hint makes the test-scale plan identical to the at-scale plan.
    joined = ob.hint("merge").join(lb, ob.o_orderkey == lb.l_orderkey)
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            # decimal sum: exact and partition-order-invariant, cast once
            F.round(
                F.sum(
                    (F.col("l_extendedprice").cast("decimal(18,2)") * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")).cast(
                        "decimal(28,4)"
                    )
                ).cast("double"),
                2,
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


register(
    "bucketed_join_zeroshuffle",
    _bucketed_join_zeroshuffle,
    """
    SELECT o_orderpriority,
           count(*) AS n_lines,
           round(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE), 2) AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)


def _python_datasource_scan(spark, sf_dir):
    """Scan a custom Python DataSource (Spark 4 API) and aggregate.

    The source is a deterministic pure-integer generator (sources/pyds.py),
    so the oracle regenerates identical rows with ``generate_series`` —
    value-hash-checking the whole custom-source plumbing: options, schema,
    partition planning, per-partition iterators, Arrow transfer. The agg
    keys on user_id (97 groups) so every partition contributes to every
    group — a wrong partition range or a dropped slice cannot hash-match.
    """
    from ..sources.pyds import register_python_sources

    register_python_sources(spark)
    df = (
        spark.read.format("synth_events")
        .option("n", "20000")
        .option("parts", "16")
        .load()
    )
    return (
        df.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").alias("sum_id"),
            # value = (i*i % 1000)/10 is exact in doubles (<= 99.9, 1 decimal)
            F.round(F.sum(F.col("value").cast("decimal(18,1)")).cast("double"), 1).alias("sum_value"),
        )
        .orderBy("user_id")
    )


register(
    "python_datasource_scan",
    _python_datasource_scan,
    """
    WITH g AS (
      SELECT i AS event_id,
             (i * 2654435761) % 97 AS user_id,
             ((i * i) % 1000) / 10.0 AS value
      FROM generate_series(0, 19999) t(i)
    )
    SELECT user_id, count(*) AS n, CAST(sum(event_id) AS BIGINT) AS sum_id,
           round(CAST(sum(CAST(value AS DECIMAL(18,1))) AS DOUBLE), 1) AS sum_value
    FROM g GROUP BY user_id ORDER BY user_id
    """,
)


def _compaction_small_files(spark, sf_dir):
    """Small-file compaction — the lakehouse maintenance operator.

    Streaming ingest and over-parallel writes leave thousands of tiny files;
    scan cost then becomes file-open-bound (footer reads, task scheduling)
    instead of byte-bound. The fix is a rewrite to ~target-row files:
    ``repartition(ceil(rows/target))``. Here documents is deliberately
    shattered into 64 files, compacted, and the query returns
    (rows, files_before, files_after) — all three derivable in plain SQL,
    so the compaction arithmetic is oracle-checked; pytest asserts the
    physical file counts on disk match the reported numbers.
    """
    from ..sources.sinks import write_parquet

    d = read_table(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text")
    work = Path(run_dir("compaction"))
    shattered, compacted = work / "shatter", work / "compact"
    d.repartition(64).write.mode("overwrite").parquet(str(shattered))

    back = spark.read.parquet(str(shattered))
    total = back.count()  # one cheap metadata-only job (parquet count-star)
    target = 10_000
    n_out = max(1, -(-total // target))
    back.repartition(n_out).write.mode("overwrite").parquet(str(compacted))

    files_before = len(list(shattered.glob("part-*")))
    files_after = len(list(compacted.glob("part-*")))
    return spark.createDataFrame(
        [(total, files_before, files_after)],
        "n_rows bigint, files_before int, files_after int",
    )


register(
    "compaction_small_files",
    _compaction_small_files,
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           64 AS files_before,
           CAST(ceil(count(*) / 10000.0) AS INTEGER) AS files_after
    FROM documents
    """,
)


def _xml_roundtrip(spark, sf_dir):
    """Native XML sink -> source (Spark 4 built-in, no external package).

    The legacy-enterprise interchange format; rowTag-scoped reads stream
    records without loading whole documents. Explicit schema'd read-back
    (attribute order in XML is not positional, so the select re-fixes
    column order) oracled against the parquet original.
    """
    r = read_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    out = run_dir("xml_roundtrip")
    r.write.mode("overwrite").option("rootTag", "regions").option("rowTag", "region").xml(out)
    back = spark.read.schema(r.schema).option("rowTag", "region").xml(out)
    return back.select("r_regionkey", "r_name").orderBy("r_regionkey")


register(
    "xml_roundtrip",
    _xml_roundtrip,
    """
    SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey
    """,
)


# --- zonemap data skipping: cluster -> stats index -> pruned scan -----------
def _zonemap_pruned_agg(spark, sf_dir):
    """Range-cluster lineitem by ship date, build a per-file min/max
    zonemap, and answer a date-range aggregate reading ONLY overlapping
    files. repartitionByRange gives each file a disjoint l_shipdate zone,
    so a one-quarter predicate keeps ~1-2 of 8 files (pytest asserts the
    prune; this oracle checks only values — pruning is a superset
    guarantee, so results are layout-invariant)."""
    from ..operators.layout import build_zonemap, zonemap_pruned_read

    clustered = run_dir("zonemap")
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_shipdate", "l_returnflag", "l_extendedprice", "l_discount"
    )
    li.repartitionByRange(8, "l_shipdate").write.mode("overwrite").parquet(clustered)

    zm = build_zonemap(spark, clustered, ["l_shipdate"])
    import datetime

    # l_shipdate is TIMESTAMP_NTZ; inclusive [Jan 1, last-us-of-Mar 31]
    # == the oracle's half-open [1995-01-01, 1995-04-01) at us precision
    lo = datetime.datetime(1995, 1, 1)
    hi = datetime.datetime(1995, 3, 31, 23, 59, 59, 999999)
    pruned, _kept, _total = zonemap_pruned_read(
        spark, clustered, zm, "l_shipdate", lo, hi
    )
    return (
        pruned.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1).cast("decimal(4,2)") - F.col("l_discount").cast("decimal(4,2)"))
            )
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


register(
    "zonemap_pruned_agg",
    _zonemap_pruned_agg,
    """
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1995-04-01'
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)


# --- schema evolution: mergeSchema over heterogeneous batches ---------------
def _schema_evolution_read(spark, sf_dir):
    """Two ingest generations land in one dataset dir — an early batch with
    (doc_id, lang) and a later batch that added (source, n_chars). The
    mergeSchema read unions the footers into one superset schema, nulling
    the columns an old batch lacks; the audit agg then quantifies the
    backfill debt per lang. Per-file schemas stay prunable: the scan still
    pushes the column subset down to each footer."""
    base = Path(run_dir("schevo"))
    d = read_table(spark, sf_dir, "documents")
    d.select("doc_id", "lang").write.mode("overwrite").parquet(str(base / "gen=1"))
    d.select("doc_id", "lang", "source", "n_chars").write.mode("overwrite").parquet(
        str(base / "gen=2")
    )
    merged = spark.read.option("mergeSchema", "true").option(
        "recursiveFileLookup", "true"
    ).parquet(str(base))
    return (
        merged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("source").isNull(), 1).otherwise(0)).alias(
                "n_missing_source"
            ),
            F.sum(F.coalesce(F.col("n_chars"), F.lit(0))).alias("total_chars"),
        )
        .orderBy("lang")
    )


register(
    "schema_evolution_read",
    _schema_evolution_read,
    """
    WITH merged AS (
      SELECT doc_id, lang, NULL AS source, CAST(NULL AS BIGINT) AS n_chars FROM documents
      UNION ALL
      SELECT doc_id, lang, source, n_chars FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_source,
           CAST(sum(coalesce(n_chars, 0)) AS BIGINT) AS total_chars
    FROM merged GROUP BY lang ORDER BY lang
    """,
)
