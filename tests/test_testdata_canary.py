"""Testdata-drift canary (VERDICT r2 #8).

The driver regenerates /root/testdata between rounds; round 2 shipped broken
because events.ts silently changed from TIMESTAMP(NANOS) to timestamp[us]
and nothing failed at the read boundary. These tests pin the physical footer
types of every load-bearing column (pyarrow, no Spark session needed — they
run first and cheap) plus the Spark-visible logical type of events.ts, so
the next regeneration fails HERE with an explicit message instead of deep
inside a window expression.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SFS = ["sf0.001", "sf0.01", "sf0.1"]

# column -> set of acceptable pyarrow type strings. events.ts accepts both
# generations we have observed (micros now, nanos before r2): the source
# layer (sources/parquet.py) and streaming schema handle micros natively and
# convert nanos-as-long, so either footer type is fine — anything ELSE is not.
PINNED = {
    "events.parquet": {
        "event_id": {"int64"},
        "ts": {"timestamp[us]", "timestamp[ns]"},
        "user_id": {"int64"},
        "event_type": {"string", "large_string"},
        "value": {"double"},
        "props": {"string", "large_string"},
    },
    "documents.parquet": {
        "doc_id": {"int64"},
        "text": {"string", "large_string"},
    },
    "embeddings.parquet": {
        "vec_id": {"int64"},
        "embedding": {"list<element: float>", "list<item: float>", "list<element: double>", "list<item: double>"},
    },
    "lineitem.parquet": {
        "l_orderkey": {"int64"},
        "l_quantity": {"double", "decimal128(15, 2)"},
        "l_extendedprice": {"double", "decimal128(15, 2)"},
    },
    "orders.parquet": {
        "o_orderkey": {"int64"},
        "o_orderdate": {"date32[day]", "timestamp[us]", "string", "large_string"},
    },
}


@pytest.mark.parametrize("sf", SFS)
@pytest.mark.parametrize("table", sorted(PINNED))
def test_footer_types_pinned(sf, table):
    path = f"{TESTDATA}/{sf}/{table}"
    if not os.path.exists(path):
        pytest.skip(f"{path} absent")
    schema = pq.read_schema(path)
    for col, allowed in PINNED[table].items():
        assert col in schema.names, f"{sf}/{table}: column {col!r} disappeared from footer"
        got = str(schema.field(col).type)
        assert got in allowed, (
            f"TESTDATA DRIFT: {sf}/{table} column {col!r} is {got!r}, expected one of "
            f"{sorted(allowed)}. The driver regenerated testdata with a new physical "
            f"type — update sources/parquet.py + streaming/events.py FIRST, then this pin."
        )


def test_events_ts_reads_as_timestamp_ntz(spark, sf_small):
    """The Spark-visible contract every event-time query depends on: after
    read_table, events.ts is TIMESTAMP_NTZ (micros footer left as-is, or the
    legacy nanos-long branch converted) and castable to TIMESTAMP for
    unix_micros arithmetic."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from wafer_defect_data_pipeline_spark.sources import read_table

    e = read_table(spark, sf_small, "events")
    ts_type = dict(zip(e.schema.names, [f.dataType for f in e.schema.fields]))["ts"]
    assert isinstance(ts_type, T.TimestampNTZType), f"events.ts read as {ts_type}"
    row = e.select(
        F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("lo"),
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("hi"),
    ).first()
    # sanity range: years ~2001..2100 in epoch-micros — catches a silent
    # 1000x unit corruption (the r2 streaming bug) at the read boundary
    assert 1_000_000_000 * 1_000_000 < row["lo"] <= row["hi"] < 4_102_444_800 * 1_000_000, row


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_planted_doc_ids_unique_for_exact_dedup(sf):
    """``exact_dedup(unique_order=True)`` in ``curation_end_to_end`` assumes
    ``doc_id`` is unique across the corpus and its four planted generations
    (exact copies +1M, near-dup tails +2M/+3M on every 25th doc, leaked
    benchmark suffixes +4M on every 97th). That holds while every source id
    is below the 1M shift and unique; a regenerated corpus past 1M docs
    fails here instead of silently tying in ``min_by``."""
    import numpy as np

    path = f"{TESTDATA}/{sf}/documents.parquet"
    if not os.path.exists(path):
        pytest.skip(f"{path} absent")
    ids = pq.read_table(path, columns=["doc_id"]).column("doc_id").to_numpy()
    assert ids.max() < 1_000_000
    planted = np.concatenate(
        [ids, ids + 1_000_000, ids[ids % 25 == 0] + 2_000_000,
         ids[ids % 25 == 0] + 3_000_000, ids[ids % 97 == 0] + 4_000_000]
    )
    assert len(np.unique(planted)) == len(planted)
