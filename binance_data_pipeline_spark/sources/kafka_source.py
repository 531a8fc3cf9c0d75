"""Jar-free Kafka source for Structured Streaming — the Python
DataSource API (Spark 4) over the wire-protocol client in
``kafka_wire.py``.

Closes the reference's S3 leg (producer/kafka_to_s3_bronze.py:20-27:
earliest-offset consume of the raw-trades topic) END TO END inside this
sandbox: ``spark.readStream.format("kafka_wire")`` emits records in the
EXACT schema Spark's own Kafka connector emits
(``streaming/ingest.py::KAFKA_SOURCE_SCHEMA``), so the downstream chain
(``kafka_records_to_raw`` → ``bronze_stream`` → partitioned sink) is
byte-identical whichever source feeds it. On a real cluster you'd use
the spark-sql-kafka connector jar (scale features: SSL, consumer
groups, partition rebalancing); this source is the jar-free interop
tier that lets every test and local pipeline run against a real socket.

Contract, mapped onto the DataSource API:

- OFFSETS ARE KAFKA OFFSETS: the stream offset is ``{"<partition>":
  next_unread_offset}`` — exactly the connector's checkpoint shape.
  The streaming reader is a ``SimpleDataSourceStreamReader``: the
  engine hands ``read(start)`` its own checkpointed start offset, so
  ``maxOffsetsPerTrigger`` (the reference's 1000-msg flush bound)
  caps every micro-batch, the first one after a restart included. The
  budget is split across partitions proportionally to lag like the
  real connector.
- RECORDS PASS THROUGH THE DRIVER: ``read`` polls ListOffsets v1,
  fetches the capped range (Fetch v4, CRC-verified batches) inside the
  driver's long-lived Python source runner, and the engine ships the
  rows to the JVM as Arrow — a micro-batch runs no Python executor
  task. That fits this tier (small, trigger-bounded batches); past one
  process's throughput use the jar connector
  (``streaming/ingest.py::read_raw_stream_from_kafka``). Batch reads
  (``spark.read``) still fetch one topic partition per executor task.
- EXACT RANGES: a fetch may start mid-batch (after a rate-limited
  trigger); the broker returns the containing batch and the client
  filters to ``[start, end)``, so replays after restart
  (``readBetweenOffsets``) are exact and the checkpointed offsets
  compose to exactly-once with an idempotent sink (upgrade over the
  reference's commit-after-put at-least-once).

Kafka protocol references: kafka.apache.org/protocol (public spec);
precedent for the jar-free pattern: ``sources/snapshot_source.py``.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

# module-top (not inline) imports: these ride the by-value pickle into
# the engine's Python workers — a runtime relative import inside read()
# would need the package installed on every worker
from .kafka_wire import (
    kafka_fetch,
    kafka_list_offsets,
    kafka_offset_commit,
    kafka_partitions,
    kafka_produce,
)

__all__ = ["KafkaWireDataSource", "register_kafka_wire_source"]

DEFAULT_TOPIC = "binance_trades_raw"


def _parse_bootstrap(bootstrap: str) -> tuple[str, int]:
    host, _, port = bootstrap.rpartition(":")
    if not host or not port.isdigit():
        raise ValueError(f"bad bootstrap {bootstrap!r} (want host:port)")
    return host, int(port)


class _RangePartition(InputPartition):
    def __init__(self, host: str, port: int, topic: str, partition: int,
                 start: int, end: int):
        self.host, self.port = host, port
        self.topic, self.partition = topic, partition
        self.start, self.end = start, end


def _fetch_range(part: _RangePartition):
    """Fetch [start, end) from one Kafka partition and yield rows in the
    connector's record schema."""
    from datetime import datetime, timezone

    offset = part.start
    while offset < part.end:
        _hwm, records = kafka_fetch(
            part.host, part.port, part.topic, part.partition, offset, part.end
        )
        if not records:
            raise ValueError(
                f"kafka_wire: fetch of {part.topic}/{part.partition} at "
                f"{offset} returned no records but end={part.end} — log "
                "truncated below the checkpointed offset?"
            )
        for off, key, value, ts_ms in records:
            yield (
                key,
                value,
                part.topic,
                part.partition,
                off,
                datetime.fromtimestamp(ts_ms / 1000.0, tz=timezone.utc),
                0,  # timestampType: CreateTime
            )
        offset = records[-1][0] + 1


def _capped_end(start: dict[str, int], latest: dict[str, int],
                budget: int | None) -> dict[str, int]:
    """The batch end: ``latest``, or — when the total lag exceeds
    ``budget`` — ``start`` plus a budget split proportionally to lag
    (the connector's rate-limit policy), remainder to the laggiest
    partitions first. Never below ``start``."""
    lags = {p: max(latest[p] - start[p], 0) for p in latest}
    total = sum(lags.values())
    if budget is None or total <= budget:
        return {p: start[p] + lag for p, lag in lags.items()}
    take = {p: int(lag * budget / total) for p, lag in lags.items()}
    rem = budget - sum(take.values())
    for p in sorted(lags, key=lags.get, reverse=True):
        if rem <= 0:
            break
        if take[p] < lags[p]:
            take[p] += 1
            rem -= 1
    return {p: start[p] + take[p] for p in latest}


class _KafkaWireStreamReader(SimpleDataSourceStreamReader):
    """Driver-side micro-batch reader: ``read(start)`` plans AND fetches
    one capped batch from the engine's start offset; the engine replays
    a planned-but-uncommitted batch through ``readBetweenOffsets``."""

    def __init__(self, host: str, port: int, topic: str,
                 starting_offsets: str, max_per_trigger: int | None,
                 commit_group: str | None = None):
        self._host, self._port, self._topic = host, port, topic
        self._starting = starting_offsets
        self._max = max_per_trigger
        self._commit_group = commit_group
        self._mirror_warned: set[str] = set()  # once-per-type mirror warnings

    def _list(self, p: int, earliest: bool = False) -> int:
        return kafka_list_offsets(
            self._host, self._port, self._topic, p, earliest=earliest
        )

    def _from_earliest(self, start: dict, parts) -> dict[str, int]:
        # partitions absent from ``start`` were created after it was
        # planned: they start at their earliest offset (= 0 for a fresh
        # partition), the connector's drain-all posture — records
        # produced to them are picked up, not lost
        return {
            p: int(start[p]) if p in start else self._list(int(p), earliest=True)
            for p in parts
        }

    def _rows(self, start: dict[str, int], end: dict[str, int]) -> list[tuple]:
        return [
            row
            for p, e in end.items() if e > start[p]
            for row in _fetch_range(_RangePartition(
                self._host, self._port, self._topic, int(p), start[p], int(e)
            ))
        ]

    def initialOffset(self) -> dict:
        earliest = self._starting != "latest"
        return {
            str(p): self._list(p, earliest)
            for p in kafka_partitions(self._host, self._port, self._topic)
        }

    def read(self, start: dict):
        latest = {
            str(p): self._list(p)
            for p in kafka_partitions(self._host, self._port, self._topic)
        }
        # topic partition-set change since ``start``. Kafka topics only
        # ever GAIN partitions; a partition disappearing from metadata
        # means the topic was deleted/recreated — offsets are
        # meaningless, fail loudly instead of silently replaying or
        # skipping (the jar connector errors here too).
        gone = sorted(set(start) - set(latest))
        if gone:
            raise ValueError(
                f"kafka_wire: partitions {gone} of topic "
                f"{self._topic!r} vanished from broker metadata — "
                "topics cannot shrink, so the topic was deleted or "
                "recreated; restart the stream with a fresh checkpoint"
            )
        start = self._from_earliest(start, latest)
        end = _capped_end(start, latest, self._max)
        # a list iterator, not a generator: the engine copies the
        # iterator it caches for the batch
        return iter(self._rows(start, end)), end

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._rows(self._from_earliest(start, end), end))

    def commit(self, end: dict) -> None:
        if self._commit_group:
            # mirror the ENGINE-committed position to the broker
            # (OffsetCommit as a simple consumer) so external lag
            # tooling sees progress, like the jar connector's
            # kafka.group.id. commit(end) fires strictly AFTER the
            # engine checkpoints the batch, so the broker never gets
            # ahead of the checkpoint; it can lag one batch (the
            # engine calls commit at the NEXT batch's start — the jar
            # connector's commits are asynchronous too). Best-effort
            # by design: a broker hiccup must not fail the stream,
            # exactly-once rests on the checkpoint alone.
            try:
                kafka_offset_commit(
                    self._host, self._port, self._commit_group,
                    self._topic, {int(p): int(v) for p, v in end.items()},
                )
            except Exception as e:
                # truly best-effort: a truncated broker response raises
                # struct.error, a malformed one AssertionError — none of
                # these may fail the streaming query (exactly-once rests
                # on the engine checkpoint, not this mirror). But a
                # PERMANENTLY broken mirror must stay diagnosable
                # (ADVICE r11): warn once per exception type, so a
                # programming error shows up in lag monitoring instead
                # of being swallowed on every batch.
                key = type(e).__name__
                if key not in self._mirror_warned:
                    self._mirror_warned.add(key)
                    import warnings

                    warnings.warn(
                        f"kafka offset-commit mirror failed ({key}: {e}); "
                        "stream continues, broker-visible lag will not "
                        "advance until the mirror recovers",
                        RuntimeWarning,
                        stacklevel=2,
                    )


class _KafkaWireBatchReader(DataSourceReader):
    """Batch read of the whole topic (earliest..latest at plan time)."""

    def __init__(self, host: str, port: int, topic: str):
        self._host, self._port, self._topic = host, port, topic

    def partitions(self):
        out = []
        for p in kafka_partitions(self._host, self._port, self._topic):
            lo = kafka_list_offsets(self._host, self._port, self._topic, p, earliest=True)
            hi = kafka_list_offsets(self._host, self._port, self._topic, p)
            if hi > lo:
                out.append(_RangePartition(self._host, self._port, self._topic, p, lo, hi))
        return out

    def read(self, partition):
        yield from _fetch_range(partition)


class _ProduceCommit(WriterCommitMessage):
    def __init__(self, counts: dict):
        self.counts = counts  # partition -> records produced


def _murmur2(data: bytes) -> int:
    """Kafka's 32-bit murmur2 (seed 0x9747b28c) — the hash behind the
    Java client's DefaultPartitioner, reimplemented from the public
    algorithm so records keyed by this sink land on the SAME partition
    a Java producer (or the jar sink) would pick for the same key.
    Returns the unsigned 32-bit hash; callers mask to positive."""
    length = len(data)
    m = 0x5BD1E995
    h = (0x9747B28C ^ length) & 0xFFFFFFFF
    base = length & ~3
    for i in range(0, base, 4):
        k = data[i] | (data[i + 1] << 8) | (data[i + 2] << 16) | (data[i + 3] << 24)
        k = (k * m) & 0xFFFFFFFF
        k ^= k >> 24
        k = (k * m) & 0xFFFFFFFF
        h = (h * m) & 0xFFFFFFFF
        h ^= k
    extra = length & 3
    if extra >= 3:
        h ^= data[base + 2] << 16
    if extra >= 2:
        h ^= data[base + 1] << 8
    if extra >= 1:
        h ^= data[base]
        h = (h * m) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * m) & 0xFFFFFFFF
    h ^= h >> 15
    return h


def _produce_rows(rows, host, port, topic, n_partitions, batch_size=500):
    """One task's produce leg: route each row to a Kafka partition
    (explicit ``partition`` column wins, else murmur2(key) — Kafka's
    DefaultPartitioner, so keyed routing is co-partitioned with Java
    clients — else round robin), frame RecordBatch v2 batches, produce.
    Returns per-partition counts for the commit message. Mirrors the
    jar sink's row contract: ``value`` required (binary or string),
    ``key``/``partition`` optional."""
    import time

    buf: dict[int, list] = {}
    counts: dict[int, int] = {}
    rr = 0

    def flush(p):
        if buf.get(p):
            kafka_produce(host, port, topic, p, buf[p])
            counts[p] = counts.get(p, 0) + len(buf[p])
            buf[p] = []

    now_ms = int(time.time() * 1000)
    for row in rows:
        d = row.asDict() if hasattr(row, "asDict") else dict(row)
        value = d.get("value")
        if value is None:
            raise ValueError("kafka_wire sink: every row needs a non-null 'value'")
        if isinstance(value, str):
            value = value.encode()
        else:
            value = bytes(value)
        key = d.get("key")
        if isinstance(key, str):
            key = key.encode()
        elif key is not None:
            key = bytes(key)
        if d.get("partition") is not None:
            p = int(d["partition"]) % n_partitions
        elif key is not None:
            # Kafka's DefaultPartitioner: toPositive(murmur2(key)) % N
            p = (_murmur2(key) & 0x7FFFFFFF) % n_partitions
        else:
            p, rr = rr % n_partitions, rr + 1
        buf.setdefault(p, []).append((key, value, now_ms))
        if len(buf[p]) >= batch_size:
            flush(p)
    for p in list(buf):
        flush(p)
    return counts


class _KafkaWireWriter(DataSourceWriter, DataSourceStreamWriter):
    """Batch AND streaming produce. Delivery is AT-LEAST-ONCE: records
    hit the broker inside write() and a task retry re-produces (exactly
    the reference consumer's commit-after-put posture, and the jar
    sink's documented semantics without Kafka transactions); dedup
    downstream by envelope identity, as the bronze chain already does."""

    def __init__(self, host: str, port: int, topic: str, n_partitions: int):
        self._host, self._port = host, port
        self._topic, self._n = topic, n_partitions

    def write(self, iterator):
        counts = _produce_rows(
            iterator, self._host, self._port, self._topic, self._n
        )
        return _ProduceCommit(counts)

    def commit(self, messages, batchId=None):  # noqa: N803 — engine signature
        pass  # records are already on the broker (at-least-once)

    def abort(self, messages, batchId=None):  # noqa: N803
        pass


class KafkaWireDataSource(DataSource):
    """``format("kafka_wire")``: jar-free Kafka reads AND writes over
    the public wire protocol. Options: ``bootstrap`` (host:port,
    required), ``topic`` (default binance_trades_raw),
    ``startingOffsets`` (earliest|latest, streaming reads),
    ``maxOffsetsPerTrigger`` (streaming reads; caps every micro-batch,
    the first after a restart included), ``commitToBroker`` (a
    consumer-group id; when set, engine-committed offsets are mirrored
    to the broker via OffsetCommit so external lag tooling sees the
    stream's progress — the jar connector's ``kafka.group.id``),
    ``partitions`` (sink routing width; default = broker metadata). Sink rows follow
    the jar sink's contract: ``value`` required (binary|string),
    ``key``/``partition`` optional; delivery at-least-once (no Kafka
    transactions — the reference's own posture; bronze dedups by
    envelope identity downstream)."""

    def __init__(self, options):
        super().__init__(options)
        bootstrap = options.get("bootstrap")
        if not bootstrap:
            raise ValueError("kafka_wire requires .option('bootstrap', 'host:port')")
        self._host, self._port = _parse_bootstrap(bootstrap)
        self._topic = options.get("topic", DEFAULT_TOPIC)

    @classmethod
    def name(cls) -> str:
        return "kafka_wire"

    def schema(self) -> str:
        # the Structured Streaming Kafka integration contract — identical
        # to streaming/ingest.py::KAFKA_SOURCE_SCHEMA so either source
        # feeds the same downstream chain
        return (
            "key BINARY, value BINARY, topic STRING, partition INT, "
            "offset LONG, timestamp TIMESTAMP, timestampType INT"
        )

    def reader(self, schema) -> DataSourceReader:
        return _KafkaWireBatchReader(self._host, self._port, self._topic)

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        mx = self.options.get("maxoffsetspertrigger")
        return _KafkaWireStreamReader(
            self._host,
            self._port,
            self._topic,
            self.options.get("startingoffsets", "earliest"),
            int(mx) if mx is not None else None,
            commit_group=self.options.get("committobroker"),
        )

    def _make_writer(self) -> _KafkaWireWriter:
        n = self.options.get("partitions")
        n_partitions = (
            int(n)
            if n is not None
            else max(len(kafka_partitions(self._host, self._port, self._topic)), 1)
        )
        return _KafkaWireWriter(self._host, self._port, self._topic, n_partitions)

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        if overwrite:
            raise ValueError("kafka_wire sink: a log cannot be overwritten — use append")
        return self._make_writer()

    def streamWriter(self, schema, overwrite: bool) -> DataSourceStreamWriter:
        return self._make_writer()


def register_kafka_wire_source(spark) -> None:
    """Register ``format("kafka_wire")`` on this session. Both this
    module and ``kafka_wire`` are pickled BY VALUE into the engine's
    Python workers (stdlib-only dependencies), so the source runs from
    any vanilla session with no package distribution to workers."""
    import sys

    from pyspark import cloudpickle

    from . import kafka_wire

    cloudpickle.register_pickle_by_value(kafka_wire)
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    spark.dataSource.register(KafkaWireDataSource)
