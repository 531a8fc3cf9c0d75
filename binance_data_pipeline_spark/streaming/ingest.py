"""Streaming ingest: raw JSON stream → bronze partitioned Parquet.

Reference path (§3.1): WS → Kafka (external bridge) → consumer buffers
≤1000 msgs / 5 s → one Parquet object under date=/hour= keys, offsets
committed after the S3 put (at-least-once)
(producer/kafka_to_s3_bronze.py:49-107).

Spark rebuild — one streaming query replaces the hand-rolled consumer:

    readStream (kafka | file) → parse_envelope → raw_to_bronze
      → writeStream parquet partitionBy(event_date, hour)
        trigger(5 s) checkpoint(...)

Upgrades over the reference, each deliberate and documented:
  - delivery: checkpointed file sink = exactly-once (reference is
    at-least-once with dupes possible between put and commit — ST2);
    downstream dedup-by-trade_id is kept anyway because the dual ingest
    paths (stream + REST backfill) can both land the same trade.
  - partitioning: per-row event-time partitions (reference keys the whole
    batch by its FIRST record's timestamp — ST4, kafka_to_s3_bronze.py:63).
  - restart: checkpoint recovery replaces sleep-and-reconnect (ST7).

The transform chain is exactly the batch one (parse_envelope/raw_to_bronze
are DataFrame→DataFrame) — the batch/stream unification that makes the
backfill job and the live stream bit-identical in semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.cleaning import raw_to_bronze
from ..sources.json_envelope import parse_envelope

MICRO_BATCH_INTERVAL = "5 seconds"  # reference flush interval (ST1, :79)
MAX_OFFSETS_PER_TRIGGER = 1000      # reference flush size (ST1, :78)


def read_raw_stream_from_files(
    spark: SparkSession, path: str, max_files_per_trigger: int = 10
) -> DataFrame:
    """Test/file source: a directory of JSON-lines files, one `value`
    string column — schema-compatible with the Kafka source's value."""
    return (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
        .withColumnRenamed("value", "value")
    )


# The exact record schema the Spark Kafka source emits (Structured
# Streaming Kafka integration contract) — the loopback test builds batches
# of this shape so the decode path is pinned without a broker.
KAFKA_SOURCE_SCHEMA = (
    "key BINARY, value BINARY, topic STRING, partition INT, "
    "offset LONG, timestamp TIMESTAMP, timestampType INT"
)


def kafka_source_options(
    bootstrap_servers: str,
    topic: str = "binance_trades_raw",
    starting_offsets: str = "earliest",
) -> dict[str, str]:
    """The consumer contract as data, testable without a broker:
    earliest offsets like the reference's consumer (kafka_to_s3_bronze.py:22
    auto.offset.reset=earliest), batch bound = the reference's 1000-message
    flush (:78); offset tracking moves from manual commits to the
    checkpoint (ST2)."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "maxOffsetsPerTrigger": str(MAX_OFFSETS_PER_TRIGGER),
    }


def kafka_records_to_raw(records: DataFrame) -> DataFrame:
    """Kafka wire records → the one-string-column raw frame every
    downstream transform consumes. UTF-8 decode of the binary value; keys/
    offsets/partitions are transport metadata and intentionally dropped
    (the envelope itself carries the identity — P1)."""
    return records.selectExpr("CAST(value AS STRING) AS value")


def read_raw_stream_from_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "binance_trades_raw",
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka source (S3) via Spark's own connector — needs the
    spark-sql-kafka jar, so on a cluster: `spark-submit --packages
    org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>`. In this
    container the SAME leg runs jar-free through
    `read_raw_stream_from_kafka_wire` (identical record schema, so the
    downstream chain is byte-identical); the consumer contract
    (`kafka_source_options`) and wire decode (`kafka_records_to_raw`)
    are additionally pinned in tests/test_kafka_contract.py."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_source_options(bootstrap_servers, topic, starting_offsets).items():
        reader = reader.option(k, v)
    return kafka_records_to_raw(reader.load())


def read_raw_stream_from_kafka_wire(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "binance_trades_raw",
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int = MAX_OFFSETS_PER_TRIGGER,
    commit_to_broker: str | None = None,
) -> DataFrame:
    """Kafka source (S3) with NO connector jar: the Python-DataSource
    implementation over the public wire protocol
    (`sources/kafka_source.py`). Emits KAFKA_SOURCE_SCHEMA records —
    interchangeable with `read_raw_stream_from_kafka` — with the same
    consumer contract as the reference (earliest offsets
    kafka_to_s3_bronze.py:22, 1000-msg trigger bound :78).

    ``commit_to_broker``: optional consumer-group id; engine-committed
    offsets are mirrored to the broker (OffsetCommit) so external lag
    monitors see the stream's progress — the jar connector's
    ``kafka.group.id``. Broker commits can lag the checkpoint by one
    batch (the engine's commit callback is asynchronous) and never
    replace it: exactly-once still rests on the checkpoint alone."""
    from ..sources.kafka_source import register_kafka_wire_source

    register_kafka_wire_source(spark)
    reader = (
        spark.readStream.format("kafka_wire")
        .option("bootstrap", bootstrap_servers)
        .option("topic", topic)
        .option("startingOffsets", starting_offsets)
        .option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    )
    if commit_to_broker:
        reader = reader.option("commitToBroker", commit_to_broker)
    return kafka_records_to_raw(reader.load())


def bronze_stream(raw: DataFrame) -> DataFrame:
    """Shared transform: envelope parse → bronze shape (same functions as
    the batch path)."""
    return raw_to_bronze(parse_envelope(raw))


def _rate_limited_python_source(df: DataFrame) -> bool:
    """True when the stream reads a rate-limited Python DataSource
    (kafka_wire with maxOffsetsPerTrigger): the engine silently
    degrades ``Trigger.AvailableNow`` on Python sources to a SINGLE
    batch (warning-only), and that batch stops at the cap — a backlog
    beyond it is not drained but left in Kafka for the next start."""
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return False
    return "kafka_wire" in plan and "maxOffsetsPerTrigger=" in plan


def start_bronze_ingest(
    raw: DataFrame,
    out_path: str,
    checkpoint_path: str,
    trigger_interval: str = MICRO_BATCH_INTERVAL,
    available_now: bool = False,
    allow_unbounded_drain: bool = False,
) -> StreamingQuery:
    """Start the bronze sink (S4): partitioned parquet, 5 s trigger,
    checkpointed. `available_now=True` drains the source then stops
    (test/backfill mode) — refused for a rate-limited ``kafka_wire``
    source unless ``allow_unbounded_drain=True``, because the engine
    silently runs Python-DataSource availableNow as ONE batch capped at
    ``maxOffsetsPerTrigger``: a backlog above the cap is NOT drained,
    the rest stays in Kafka until the next start. Pass the flag when
    the backlog is known to fit under the cap; use the processingTime
    trigger + ``q.processAllAvailable()`` to drain a larger one."""
    if (
        available_now
        and not allow_unbounded_drain
        and _rate_limited_python_source(raw)
    ):
        raise ValueError(
            "availableNow on a rate-limited kafka_wire stream runs as a "
            "SINGLE batch capped at maxOffsetsPerTrigger (Python "
            "DataSource engine fallback), so a larger backlog is not "
            "drained. Drain with the processingTime trigger + "
            "q.processAllAvailable(), or pass allow_unbounded_drain=True "
            "if the backlog is known to fit under the cap."
        )
    writer = (
        bronze_stream(raw)
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .partitionBy("event_date", "hour")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=trigger_interval)
    return writer.start()
