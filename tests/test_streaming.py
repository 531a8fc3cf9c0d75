"""Streaming path tests: file-source ingest end-to-end (raw JSON → bronze
partitioned parquet via a checkpointed streaming query), stream/batch parity
of the shared transforms, and the windowed analytics (OHLCV/VWAP, session
windows, watermark dedup)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, "/root/repo")

import pytest
from pyspark.sql import functions as F

from binance_data_pipeline_spark.operators.cleaning import bronze_to_staging, raw_to_bronze
from binance_data_pipeline_spark.sources.json_envelope import parse_envelope
from binance_data_pipeline_spark.streaming.analytics import (
    dedup_within_watermark,
    ohlcv_bars,
    session_bursts,
)
from binance_data_pipeline_spark.streaming.ingest import (
    read_raw_stream_from_files,
    start_bronze_ingest,
)

import fixtures as FX


@pytest.fixture(scope="module")
def raw_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("raw_json")
    msgs = FX.raw_ws_messages()
    third = len(msgs) // 3
    for i, chunk in enumerate([msgs[:third], msgs[third : 2 * third], msgs[2 * third :]]):
        with open(d / f"part-{i}.jsonl", "w") as f:
            f.write("\n".join(chunk))
    return str(d)


def test_streaming_ingest_end_to_end(spark, raw_dir, tmp_path):
    out = str(tmp_path / "bronze")
    ckpt = str(tmp_path / "ckpt")
    q = start_bronze_ingest(
        read_raw_stream_from_files(spark, raw_dir), out, ckpt, available_now=True
    )
    q.awaitTermination(120)

    bronze = spark.read.parquet(out)
    # same row count as the batch path on the same input (stream/batch parity)
    batch = raw_to_bronze(parse_envelope(spark.read.text(raw_dir)))
    assert bronze.count() == batch.count() == FX.expected_trade_count()

    # Hive-style event-time partitions exist (date=/hour= layout, per-row)
    parts = {p for p in os.listdir(out) if p.startswith("event_date=")}
    assert parts, "expected event_date= partition directories"
    hour_dirs = os.listdir(os.path.join(out, sorted(parts)[0]))
    assert any(h.startswith("hour=") for h in hour_dirs)

    # restart with the same checkpoint: no new data → no duplicate rows
    q2 = start_bronze_ingest(
        read_raw_stream_from_files(spark, raw_dir), out, ckpt, available_now=True
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == FX.expected_trade_count()


def test_ohlcv_stream_matches_batch(spark, raw_dir, tmp_path):
    """The same ohlcv_bars function on a stream (availableNow, complete agg)
    must equal the batch result — the unification guarantee."""
    staged_batch = bronze_to_staging(raw_to_bronze(parse_envelope(spark.read.text(raw_dir))))
    batch_bars = ohlcv_bars(staged_batch, "5 minutes").orderBy("bar_start", "symbol").collect()

    stream_staged = bronze_to_staging(
        raw_to_bronze(parse_envelope(read_raw_stream_from_files(spark, raw_dir)))
    )
    q = (
        ohlcv_bars(stream_staged, "5 minutes")
        .writeStream.format("memory")
        .queryName("bars_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_bars = (
        spark.table("bars_stream").orderBy("bar_start", "symbol").collect()
    )
    assert len(batch_bars) == len(stream_bars) > 0
    for b, s in zip(batch_bars, stream_bars):
        assert b["symbol"] == s["symbol"] and b["bar_start"] == s["bar_start"]
        assert b["n_trades"] == s["n_trades"]
        assert abs(b["vwap"] - s["vwap"]) < 1e-9
        assert b["open"] == s["open"] and b["close"] == s["close"]


def test_dedup_within_watermark_stream(spark, tmp_path):
    rows = FX.bronze_rows(n=500)
    src = tmp_path / "dupsrc"
    src.mkdir()
    import json

    with open(src / "data.jsonl", "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    wire_schema = (
        "trade_id long, symbol string, price string, quantity string, event_time long, "
        "trade_time long, buyer_order_id long, seller_order_id long, "
        "is_buyer_maker boolean, ingest_time long"
    )
    stream = spark.readStream.schema(wire_schema).json(str(src))
    staged = bronze_to_staging(raw_to_bronze(stream))
    q = (
        dedup_within_watermark(staged)
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("dedup_stream")
    n_unique = len({r["trade_id"] for r in rows})
    assert got.count() == n_unique
    assert got.groupBy("trade_id").count().where(F.col("count") > 1).count() == 0


def test_session_bursts_batch(spark, raw_dir):
    staged = bronze_to_staging(raw_to_bronze(parse_envelope(spark.read.text(raw_dir))))
    sessions = session_bursts(staged, gap="30 seconds")
    rows = sessions.collect()
    assert rows, "expected at least one session"
    # sessions are per-symbol, non-overlapping, end >= start
    for r in rows:
        assert r["session_end"] >= r["session_start"]
        assert r["n_trades"] > 0


def test_watermark_drops_late_rows(spark, tmp_path):
    """ST5 streaming-side: with a watermark, rows arriving far behind the
    stream's max event time are excluded from finalized windows. File 1
    advances the watermark; file 2 carries an hours-late row."""
    import json as _json

    src = tmp_path / "late_src"
    src.mkdir()
    base_ms = 1_718_000_000_000
    on_time = [
        {"trade_id": i, "symbol": "BTCUSDT", "price": "100.0", "quantity": "1.0",
         "event_time": base_ms + i * 60_000} for i in range(60)
    ]
    with open(src / "a_batch1.jsonl", "w") as f:
        for r in on_time:
            f.write(_json.dumps(r) + "\n")
    late = {"trade_id": 999, "symbol": "BTCUSDT", "price": "100.0", "quantity": "1.0",
            "event_time": base_ms - 4 * 3600 * 1000}  # 4h before everything
    with open(src / "b_batch2.jsonl", "w") as f:
        f.write(_json.dumps(late) + "\n")

    wire_schema = "trade_id long, symbol string, price string, quantity string, event_time long"
    stream = (
        spark.readStream.schema(wire_schema)
        .option("maxFilesPerTrigger", 1)  # two ordered micro-batches
        .json(str(src))
    )
    staged = bronze_to_staging(raw_to_bronze(stream))
    bars = ohlcv_bars(staged, window_size="10 minutes", watermark="30 minutes")
    q = (
        bars.writeStream.format("memory")
        .queryName("late_bars")
        .outputMode("append")       # append emits only FINALIZED windows
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("late_bars").collect()
    assert got, "expected finalized windows"
    # Guarantees under test (Spark drops too-late data best-effort, so we
    # assert the hard contracts, not the best-effort drop):
    # 1. append mode emits each finalized window exactly once
    starts = [r["bar_start"] for r in got]
    assert len(starts) == len(set(starts)), "finalized windows must be unique"
    # 2. the late row can never MERGE into an already-finalized window —
    #    every on-time 10-minute bar holds only on-time trades
    on_time_bars = [r for r in got if r["bar_start"].year == 2024 and r["bar_start"].hour >= 6]
    assert sum(r["n_trades"] for r in on_time_bars) <= 60
    # 3. watermark advanced past batch 1 (state was finalized, not retained)
    assert len(on_time_bars) >= 3


def test_dual_write_stream(spark, raw_dir, tmp_path):
    """foreachBatch dual sink: every batch lands in BOTH the lake path and
    the warehouse table; checkpoint restart writes nothing new."""
    from binance_data_pipeline_spark.streaming.ingest import bronze_stream
    from binance_data_pipeline_spark.streaming.sinks import dual_write_stream

    spark.sql("DROP TABLE IF EXISTS bronze_wh")
    import shutil
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(os.path.join(wh, "bronze_wh"), ignore_errors=True)

    lake = str(tmp_path / "lake")
    q = dual_write_stream(
        bronze_stream(read_raw_stream_from_files(spark, raw_dir)),
        lake_path=lake,
        warehouse_table="bronze_wh",
        checkpoint_path=str(tmp_path / "ckpt"),
        partition_cols=["event_date", "hour"],
        available_now=True,
    )
    q.awaitTermination(120)
    n = FX.expected_trade_count()
    assert spark.read.parquet(lake).count() == n
    assert spark.table("bronze_wh").count() == n

    # restart from the same checkpoint: no duplicate appends to either sink
    q2 = dual_write_stream(
        bronze_stream(read_raw_stream_from_files(spark, raw_dir)),
        lake_path=lake,
        warehouse_table="bronze_wh",
        checkpoint_path=str(tmp_path / "ckpt"),
        partition_cols=["event_date", "hour"],
        available_now=True,
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(lake).count() == n
    assert spark.table("bronze_wh").count() == n


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream interval join with watermarks on both sides: trades
    match only quotes within the 5-minute lookback, per symbol."""
    import json as _json
    from binance_data_pipeline_spark.streaming.analytics import stream_asof_quotes

    base = 1_718_100_000_000
    tdir = tmp_path / "trades"; tdir.mkdir()
    qdir = tmp_path / "quotes"; qdir.mkdir()
    with open(tdir / "t.jsonl", "w") as f:
        for i in range(10):
            f.write(_json.dumps({"symbol": "BTCUSDT", "trade_ms": base + i * 60_000,
                                 "price": 100.0 + i, "quantity": 1.0}) + "\n")
    with open(qdir / "q.jsonl", "w") as f:
        # one quote 2 minutes before trade 5; one ancient quote (never matches)
        f.write(_json.dumps({"symbol": "BTCUSDT", "quote_ms": base + 3 * 60_000,
                             "bid": 99.0, "ask": 101.0}) + "\n")
        f.write(_json.dumps({"symbol": "BTCUSDT", "quote_ms": base - 3_600_000,
                             "bid": 1.0, "ask": 2.0}) + "\n")

    trades = (
        spark.readStream.schema("symbol string, trade_ms long, price double, quantity double")
        .json(str(tdir))
        .select("symbol", F.timestamp_millis("trade_ms").alias("trade_ts"), "price", "quantity")
    )
    quotes = (
        spark.readStream.schema("symbol string, quote_ms long, bid double, ask double")
        .json(str(qdir))
        .select("symbol", F.timestamp_millis("quote_ms").alias("quote_ts"), "bid", "ask")
    )
    joined = stream_asof_quotes(trades, quotes, max_quote_age="5 minutes")
    q = (
        joined.writeStream.format("memory").queryName("ss_join")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.table("ss_join").collect()
    # quote at +3min matches trades at minutes 3..8 (within 5-min lookback)
    assert {r["price"] for r in got} == {103.0, 104.0, 105.0, 106.0, 107.0, 108.0}
    assert all(r["bid"] == 99.0 for r in got)  # ancient quote never matched

