"""Catalog schema-drift guards.

The driver regenerated ``events.parquet`` between rounds with a different
physical ``ts`` encoding (TIMESTAMP(NANOS)-as-INT64 → plain
``timestamp[us]`` NTZ), which broke every events-path query in round 3.
These tests pin ``load_table`` to return the identical canonical schema and
identical row values for every encoding the driver has ever produced, so
the next regeneration cannot silently break the engine again.
"""

from __future__ import annotations

import datetime as dt
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from binance_data_pipeline_spark.catalog import load_table, register_testdata

from conftest import SF_SMALL

TS_VALUES = [
    dt.datetime(2024, 1, 1, 0, 0, 0),
    dt.datetime(2024, 1, 1, 12, 30, 45, 123456),
    dt.datetime(2024, 6, 15, 23, 59, 59, 999999),
]


def _write_events(path: str, ts_type: pa.DataType) -> None:
    ts = pa.array(TS_VALUES, type=pa.timestamp("us")).cast(ts_type)
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], type=pa.int64()),
            "ts": ts,
            "user_id": pa.array([10, 20, 30], type=pa.int64()),
            "event_type": pa.array(["click", "view", "purchase"]),
            "value": pa.array([1.5, 2.5, 3.5], type=pa.float64()),
            "props": pa.array(['{"a":1}', "{}", "{}"]),
        }
    )
    pq.write_table(table, path)


ENCODINGS = {
    # old driver generation: TIMESTAMP(NANOS) physical INT64
    "nanos_int64": pa.timestamp("ns"),
    # current driver generation: plain timestamp[us], no zone (Spark NTZ)
    "us_ntz": pa.timestamp("us"),
    # canonical: timestamp[us] UTC-adjusted (Spark TimestampType)
    "us_utc": pa.timestamp("us", tz="UTC"),
}


@pytest.mark.parametrize("encoding", sorted(ENCODINGS))
def test_load_table_normalizes_every_ts_encoding(spark, tmp_path, encoding):
    """All three historical encodings arrive at the same canonical schema
    and the same wall-clock values."""
    d = tmp_path / encoding
    d.mkdir()
    _write_events(str(d / "events.parquet"), ENCODINGS[encoding])
    df = load_table(spark, str(d), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = [r["ts"] for r in df.orderBy("event_id").select("ts").collect()]
    assert got == TS_VALUES


def test_load_table_encodings_agree_pairwise(spark, tmp_path):
    """Identical rows across every encoding — full-row comparison, not just
    the ts column."""
    frames = {}
    for enc, t in ENCODINGS.items():
        d = tmp_path / enc
        d.mkdir()
        _write_events(str(d / "events.parquet"), t)
        frames[enc] = load_table(spark, str(d), "events")
    rows = {enc: df.orderBy("event_id").collect() for enc, df in frames.items()}
    schemas = {enc: df.schema for enc, df in frames.items()}
    base_enc = sorted(ENCODINGS)[0]
    for enc in sorted(ENCODINGS):
        assert schemas[enc] == schemas[base_enc]
        assert rows[enc] == rows[base_enc]


def test_events_view_matches_load_table(spark):
    """register_testdata routes through load_table, so the SQL view and the
    DataFrame path expose the identical schema (VERDICT r3 item 5)."""
    if not os.path.exists(os.path.join(SF_SMALL, "events.parquet")):
        pytest.skip("driver testdata not present")
    register_testdata(spark, SF_SMALL, tables=("events",))
    view_schema = spark.table("events").schema
    df_schema = load_table(spark, SF_SMALL, "events").schema
    assert view_schema == df_schema
    assert dict(spark.table("events").dtypes)["ts"] == "timestamp"


# ---- pinned schemas ----------------------------------------------------------
# load_table memoizes each table's inferred schema (operators/metacache),
# keyed on the recursive leaf-file listing plus the nanosAsLong conf. The
# inference read is one Spark job; a pinned read must run none.


def _jobs_run(spark, fn):
    """(fn's result, number of Spark jobs fn started)."""
    sc = spark.sparkContext
    group = f"catalog-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_table_runs_no_spark_job(spark, tmp_path):
    """Regression guard for the table-resolution layer: once a table's
    schema is pinned, resolving it again costs zero Spark jobs."""
    _write_events(str(tmp_path / "events.parquet"), ENCODINGS["us_ntz"])
    first, n_first = _jobs_run(spark, lambda: load_table(spark, str(tmp_path), "events"))
    second, n_second = _jobs_run(spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert n_first >= 1  # the inference job
    assert n_second == 0
    assert second.schema == first.schema
    assert second.orderBy("event_id").collect() == first.orderBy("event_id").collect()


def test_rewrite_with_new_ts_encoding_misses_the_memo(spark, tmp_path):
    """events.parquet rewritten in place with another physical ts encoding:
    the pinned schema must not be reused, and the new file still reads
    back the canonical schema and values."""
    path = str(tmp_path / "events.parquet")
    _write_events(path, ENCODINGS["nanos_int64"])
    before = load_table(spark, str(tmp_path), "events")
    assert dict(before.dtypes)["ts"] == "timestamp"
    _write_events(path, ENCODINGS["us_ntz"])
    after, n_jobs = _jobs_run(spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert n_jobs >= 1  # re-inferred, not served from the memo
    assert after.schema == before.schema
    assert [r["ts"] for r in after.orderBy("event_id").select("ts").collect()] == TS_VALUES


def test_pinned_partitioned_read_matches_inference_and_nested_append_misses(
    spark, tmp_path
):
    """A Hive-partitioned directory table: the pinned read carries the
    same schema, partition column types included, as an unpinned read;
    a file appended under an existing nested partition re-infers."""
    path = str(tmp_path / "trades.parquet")
    spark.createDataFrame(
        [(1, 1.5, "2024-01-01", 0), (2, 2.5, "2024-01-01", 1), (3, 3.5, "2024-01-02", 0)],
        "trade_id long, price double, date string, hour int",
    ).write.partitionBy("date", "hour").parquet(path)
    load_table(spark, str(tmp_path), "trades")  # infers and pins
    pinned, n_jobs = _jobs_run(spark, lambda: load_table(spark, str(tmp_path), "trades"))
    assert n_jobs == 0
    assert pinned.schema == spark.read.parquet(path).schema
    assert dict(pinned.dtypes)["date"] == "date"
    assert dict(pinned.dtypes)["hour"] == "int"
    assert sorted(pinned.collect()) == sorted(spark.read.parquet(path).collect())

    # one more file under the existing date=2024-01-01/hour=0 partition,
    # with a column the other files lack: no top-level entry changes
    pq.write_table(
        pa.table({
            "trade_id": pa.array([4], type=pa.int64()),
            "price": pa.array([4.5]),
            "venue": pa.array(["binance"]),
        }),
        os.path.join(path, "date=2024-01-01", "hour=0", "part-appended.parquet"),
    )
    grown, n_jobs = _jobs_run(spark, lambda: load_table(spark, str(tmp_path), "trades"))
    assert n_jobs >= 1  # the nested append invalidated the pinned schema
    assert grown.schema == spark.read.parquet(path).schema
    assert grown.count() == 4


def test_missing_table_raises_analysis_exception(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_table(spark, str(tmp_path), "no_such_table")
