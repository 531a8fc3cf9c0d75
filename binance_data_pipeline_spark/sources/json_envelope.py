"""Envelope parsing: raw WebSocket/Kafka JSON → flat trade records.

Reference behavior (producer/binance_ws_to_kafka.py:56-84):
  - combined-stream envelope {"stream": ..., "data": {...}}
  - malformed JSON dropped silently (bare ``except: return``)
  - non-"trade" event types dropped (``:59-64``)
  - flattened to a fixed 13-field record; missing keys → null (``.get``)

Spark form: one ``from_json`` with the nested envelope StructType
(PERMISSIVE → malformed rows yield null struct), a null/event-type filter,
and ``select("data.*")``. Identical code path for batch and streaming
DataFrames — this function is used by both (Structured Streaming's
batch/stream unification).

All JVM-side; at 100 TB this is a pure map stage fused into the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def parse_envelope(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Raw JSON strings → flat trade records (P1+P2+P3).

    Output columns mirror the producer's record
    (binance_ws_to_kafka.py:67-81): event_type, event_time (epoch ms),
    symbol, trade_id, price/quantity (wire strings), order ids, trade_time,
    is_buyer_maker, ignore.

    Implementation note: the Binance payload distinguishes fields by case
    (`e` = event type, `E` = event time; `t`/`T`, `m`/`M`) and Spark's
    struct-field resolution is case-insensitive by default, so a plain
    ``from_json(...).select("data.e")`` is ambiguous. ``json_tuple`` is
    case-exact and parses once per level — still fully JVM-side; malformed
    JSON and missing keys yield nulls (the reference's silent-drop,
    binance_ws_to_kafka.py:82-84).
    """
    data = raw.select(
        F.json_tuple(F.col(value_col), "stream", "data").alias("stream", "_data")
    )
    fields = data.select(
        "stream",
        F.json_tuple(F.col("_data"), "e", "E", "s", "t", "p", "q", "b", "a", "T", "m", "M").alias(
            "e", "ev_time", "s", "tid", "p", "q", "b", "a", "tr_time", "m", "ign"
        ),
    )
    return (
        fields
        # malformed JSON → nulls (dropped here); non-trade events filtered (P2)
        .where(F.col("e") == "trade")
        .select(
            F.col("e").alias("event_type"),
            F.col("ev_time").cast("long").alias("event_time"),
            F.col("s").alias("symbol"),
            F.col("tid").cast("long").alias("trade_id"),
            F.col("p").alias("price"),
            F.col("q").alias("quantity"),
            F.col("b").cast("long").alias("buyer_order_id"),
            F.col("a").cast("long").alias("seller_order_id"),
            F.col("tr_time").cast("long").alias("trade_time"),
            F.col("m").cast("boolean").alias("is_buyer_maker"),
            F.col("ign").cast("boolean").alias("ignore"),
        )
    )


def parse_flat_record(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Flat Kafka-record JSON → wire-typed columns (P3).

    This is the *bronze consumer's* parse (kafka_to_s3_bronze.py:30-46): the
    producer already flattened the envelope, so Kafka carries flat records
    with snake_case keys; missing keys → null (dict .get parity). Together
    with ``parse_envelope`` (the producer-side P1/P2) this closes the loop:
    envelope → to_kafka_payload → parse_flat_record ≡ parse_envelope.
    """
    fields = raw.select(
        F.json_tuple(
            F.col(value_col),
            "event_type", "event_time", "symbol", "trade_id", "price", "quantity",
            "buyer_order_id", "seller_order_id", "trade_time", "is_buyer_maker",
            "ignore", "ingest_time",
        ).alias(
            "event_type", "ev", "symbol", "tid", "price", "quantity",
            "b", "a", "tt", "m", "ign", "it",
        )
    )
    return fields.where(F.col("event_type").isNotNull()).select(
        "event_type",
        F.col("ev").cast("long").alias("event_time"),
        "symbol",
        F.col("tid").cast("long").alias("trade_id"),
        "price",
        "quantity",
        F.col("b").cast("long").alias("buyer_order_id"),
        F.col("a").cast("long").alias("seller_order_id"),
        F.col("tt").cast("long").alias("trade_time"),
        F.col("m").cast("boolean").alias("is_buyer_maker"),
        F.col("ign").cast("boolean").alias("ignore"),
        F.col("it").cast("long").alias("ingest_time"),
    )


def to_kafka_payload(df: DataFrame) -> DataFrame:
    """Flat records → (key, value) Kafka-shaped payload: key = symbol,
    value = compact JSON (S2, binance_ws_to_kafka.py:36-43). Usable with
    ``writeStream.format("kafka")`` or checked directly in tests."""
    return df.select(
        F.col("symbol").alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value"),
    )
