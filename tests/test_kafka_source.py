"""Jar-free Kafka streaming source (sources/kafka_source.py): the
reference's socket→Spark→bronze leg (producer/kafka_to_s3_bronze.py:
20-27, 49-107) running END TO END in this sandbox — real loopback
broker (kafka_wire.MiniKafkaBroker), real Kafka framing, Spark's own
streaming engine driving offsets/checkpoints through the Python
DataSource API. This removes the suite's last Kafka skip (VERDICT r7
task 2): the only remaining cluster-only piece is the spark-sql-kafka
JAR itself, whose record schema this source reproduces exactly.
"""

from __future__ import annotations

import json
import os
import sys
from datetime import datetime, timezone

sys.path.insert(0, "/root/repo")

import fixtures as FX
import pytest

from binance_data_pipeline_spark.sources.kafka_source import (
    register_kafka_wire_source,
)
from binance_data_pipeline_spark.sources.kafka_wire import (
    MiniKafkaBroker,
    kafka_produce,
)
from binance_data_pipeline_spark.streaming.ingest import (
    read_raw_stream_from_kafka_wire,
    start_bronze_ingest,
)

TS0 = int(datetime(2024, 6, 10, 9, 0, tzinfo=timezone.utc).timestamp() * 1000)


def _produce_messages(port: int, msgs: list[str], n_partitions: int = 2,
                      topic: str = "binance_trades_raw", batch: int = 50) -> None:
    """Keyed-JSON publish like the reference producer
    (binance_ws_to_kafka.py:22-28): key = symbol-ish, value = envelope,
    round-robin partitions, batched RecordBatch v2 produces."""
    per_part: dict[int, list] = {p: [] for p in range(n_partitions)}
    for i, m in enumerate(msgs):
        per_part[i % n_partitions].append(
            (f"key-{i % 3}".encode(), m.encode(), TS0 + i)
        )
    for p, records in per_part.items():
        for i in range(0, len(records), batch):
            kafka_produce("127.0.0.1", port, topic, p, records[i : i + batch])


def test_stream_socket_to_bronze_end_to_end(spark, tmp_path):
    """Socket → kafka_wire source → bronze partitioned parquet: the full
    consumer body of kafka_to_s3_bronze.py with Spark doing the offset
    bookkeeping. Row counts, event-time partition dirs, and symbol
    fidelity all checked on the sunk files."""
    msgs = FX.raw_ws_messages(n=300, seed=11)
    out, ckpt = str(tmp_path / "bronze"), str(tmp_path / "ckpt")
    with MiniKafkaBroker() as broker:
        _produce_messages(broker.port, msgs)
        raw = read_raw_stream_from_kafka_wire(spark, f"127.0.0.1:{broker.port}")
        q = start_bronze_ingest(raw, out, ckpt, available_now=True,
                                allow_unbounded_drain=True)
        q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == FX.expected_trade_count(n=300, seed=11)
    # per-row event-time partitioning materialized (ST4)
    assert any(d.startswith("event_date=") for d in os.listdir(out))
    syms = {r["symbol"] for r in got.select("symbol").distinct().collect()}
    assert syms <= {"BTCUSDT", "ETHUSDT", "BNBUSDT"}


def test_stream_resume_is_exactly_once(spark, tmp_path):
    """Restarting from the checkpoint consumes ONLY offsets produced
    after the first drain — no replays, no gaps (ST2/ST7 over a real
    socket; the reference's commit-after-put is at-least-once)."""
    first = FX.raw_ws_messages(n=120, seed=5)
    out, ckpt = str(tmp_path / "bronze"), str(tmp_path / "ckpt")
    with MiniKafkaBroker() as broker:
        bootstrap = f"127.0.0.1:{broker.port}"
        _produce_messages(broker.port, first)
        q = start_bronze_ingest(
            read_raw_stream_from_kafka_wire(spark, bootstrap), out, ckpt,
            available_now=True, allow_unbounded_drain=True,
        )
        q.awaitTermination(120)
        n1 = spark.read.parquet(out).count()
        assert n1 == FX.expected_trade_count(n=120, seed=5)

        # second wave lands AFTER the checkpointed offsets
        second = FX.raw_ws_messages(n=80, seed=6)
        _produce_messages(broker.port, second)
        q2 = start_bronze_ingest(
            read_raw_stream_from_kafka_wire(spark, bootstrap), out, ckpt,
            available_now=True, allow_unbounded_drain=True,
        )
        q2.awaitTermination(120)
    got = spark.read.parquet(out)
    expected = FX.expected_trade_count(n=120, seed=5) + FX.expected_trade_count(
        n=80, seed=6
    )
    assert got.count() == expected
    # no replayed offsets: a replay would duplicate a wave's exact
    # (trade_id, price, quantity) rows. The two waves intentionally share
    # trade_ids (the fixture restarts ids per wave) but draw different
    # prices/quantities, so this distinct collapses replays only.
    assert got.select("trade_id", "price", "quantity").distinct().count() == expected


def test_rate_limit_splits_into_multiple_batches(spark, tmp_path):
    """maxOffsetsPerTrigger bounds each micro-batch (the reference's
    1000-msg flush, scaled down) across several commits, with no replay
    or gap even when the capped ranges cut through RecordBatch
    boundaries (the overlap-fetch + client-filter contract). The cap
    applies from the first batch (the reader plans from the engine's
    start offset); wave B is produced while the stream is already
    running, so it is drained by a live query rather than a start."""
    out, ckpt = str(tmp_path / "bronze"), str(tmp_path / "ckpt")
    with MiniKafkaBroker() as broker:
        # wave A: under the cap, drained by the first batch
        _produce_messages(broker.port, FX.raw_ws_messages(n=20, seed=8), batch=1000)
        raw = read_raw_stream_from_kafka_wire(
            spark, f"127.0.0.1:{broker.port}", max_offsets_per_trigger=30
        )
        # availableNow falls back to single-batch for Python sources —
        # drive the drain through processAllAvailable instead (blocks
        # until the source reports no new offsets, across as many
        # capped batches as needed)
        q = start_bronze_ingest(raw, out, ckpt, trigger_interval="1 seconds")
        try:
            q.processAllAvailable()
            n_commits_wave_a = len(os.listdir(f"{ckpt}/commits"))
            # wave B: one big RecordBatch per partition, drained under
            # the 30-offset cap → ranges split mid-RecordBatch
            _produce_messages(
                broker.port, FX.raw_ws_messages(n=200, seed=9), batch=1000
            )
            q.processAllAvailable()
        finally:
            q.stop()
    expected = FX.expected_trade_count(n=20, seed=8) + FX.expected_trade_count(
        n=200, seed=9
    )
    assert spark.read.parquet(out).count() == expected
    commits = [f for f in os.listdir(f"{ckpt}/commits") if not f.startswith(".")]
    # wave B alone needs >= 200/30 capped batches
    assert len(commits) - n_commits_wave_a >= 200 // 30


def test_backlog_is_capped_from_the_first_batch(spark, tmp_path):
    """A fresh stream against a backlog above maxOffsetsPerTrigger: the
    reader plans from the engine's start offset, so EVERY micro-batch —
    the first included — stays at or under the cap, and the capped
    ranges still compose to an exact, duplicate-free drain."""
    out, ckpt = str(tmp_path / "bronze"), str(tmp_path / "ckpt")
    with MiniKafkaBroker() as broker:
        _produce_messages(broker.port, FX.raw_ws_messages(n=120, seed=51), batch=1000)
        raw = read_raw_stream_from_kafka_wire(
            spark, f"127.0.0.1:{broker.port}", max_offsets_per_trigger=50
        )
        q = start_bronze_ingest(raw, out, ckpt, trigger_interval="1 seconds")
        try:
            q.processAllAvailable()
            batches = [p["numInputRows"] for p in q.recentProgress]
        finally:
            q.stop()
    assert sum(batches) == 120
    assert max(batches) <= 50, f"batch above the cap: {batches}"
    got = spark.read.parquet(out)
    expected = FX.expected_trade_count(n=120, seed=51)
    assert got.count() == expected
    assert got.select("trade_id").distinct().count() == expected


def test_available_now_takes_one_capped_batch_per_start(spark, tmp_path):
    """availableNow on a Python source runs ONE batch, and with this
    reader that batch stops at maxOffsetsPerTrigger: a backlog above
    the cap commits exactly one cap, and the next start takes the rest
    — no loss, no duplicate."""
    out, ckpt = str(tmp_path / "bronze"), str(tmp_path / "ckpt")

    def drain(bootstrap):
        q = start_bronze_ingest(
            read_raw_stream_from_kafka_wire(spark, bootstrap, max_offsets_per_trigger=50),
            out, ckpt, available_now=True, allow_unbounded_drain=True,
        )
        q.awaitTermination(120)
        return [p["numInputRows"] for p in q.recentProgress]

    with MiniKafkaBroker() as broker:
        bootstrap = f"127.0.0.1:{broker.port}"
        _produce_messages(broker.port, FX.raw_ws_messages(n=80, seed=52), batch=1000)
        assert drain(bootstrap) == [50]
        assert len([f for f in os.listdir(f"{ckpt}/commits") if f.isdigit()]) == 1
        assert drain(bootstrap) == [30]
    got = spark.read.parquet(out)
    expected = FX.expected_trade_count(n=80, seed=52)
    assert got.count() == expected
    assert got.select("trade_id").distinct().count() == expected


def test_uncommitted_batch_is_replayed_exactly(spark, tmp_path):
    """A batch whose offsets are in the WAL but whose commit is missing
    (a crash between sink write and commit) is re-read on restart
    through ``readBetweenOffsets``: the replayed batch holds exactly the
    rows the original run wrote, and nothing else is delivered."""
    import shutil

    base, ckpt = tmp_path / "sink", str(tmp_path / "ckpt")

    def sink(df, batch_id):
        # the idempotent foreachBatch shape: one dir per batch id
        df.write.mode("overwrite").parquet(str(base / f"batch={batch_id}"))

    def run(bootstrap):
        src = (
            spark.readStream.format("kafka_wire")
            .option("bootstrap", bootstrap)
            .option("maxOffsetsPerTrigger", "30")
            .load()
            .selectExpr("partition", "offset", "CAST(value AS STRING) AS value")
        )
        q = (
            src.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="1 seconds")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def rows(batch_id):
        df = spark.read.parquet(str(base / f"batch={batch_id}"))
        return sorted(tuple(r) for r in df.collect())

    with MiniKafkaBroker() as broker:
        bootstrap = f"127.0.0.1:{broker.port}"
        register_kafka_wire_source(spark)
        _produce_messages(broker.port, [json.dumps({"i": i}) for i in range(70)],
                          batch=1000)
        run(bootstrap)
        last = max(int(f) for f in os.listdir(f"{ckpt}/commits") if f.isdigit())
        original = rows(last)
        assert 0 < len(original) <= 30
        for f in (f"{last}", f".{last}.crc"):  # the commit and its checksum
            os.remove(f"{ckpt}/commits/{f}")
        shutil.rmtree(base / f"batch={last}")
        run(bootstrap)
        assert os.path.exists(f"{ckpt}/commits/{last}")
        assert rows(last) == original
    all_rows = [r for b in range(last + 1) for r in rows(b)]
    assert len(all_rows) == len(set(all_rows)) == 70


def test_batch_read_offsets_and_payloads(spark):
    """spark.read.format('kafka_wire'): broker-assigned offsets are
    contiguous per partition and key/value bytes survive the round trip
    in the connector's record schema."""
    with MiniKafkaBroker() as broker:
        msgs = [json.dumps({"i": i}) for i in range(40)]
        _produce_messages(broker.port, msgs, n_partitions=2, topic="t", batch=7)
        register_kafka_wire_source(spark)
        df = (
            spark.read.format("kafka_wire")
            .option("bootstrap", f"127.0.0.1:{broker.port}")
            .option("topic", "t")
            .load()
        )
        rows = df.collect()
    assert [f.name for f in df.schema.fields] == [
        "key", "value", "topic", "partition", "offset", "timestamp", "timestampType",
    ]
    assert len(rows) == 40
    for p in (0, 1):
        offs = sorted(r["offset"] for r in rows if r["partition"] == p)
        assert offs == list(range(20))
    payloads = {json.loads(bytes(r["value"]).decode())["i"] for r in rows}
    assert payloads == set(range(40))
    assert all(bytes(r["key"]).startswith(b"key-") for r in rows)
    assert all(r["timestamp"].year == 2024 for r in rows)


def test_starting_offsets_latest_skips_history(spark, tmp_path):
    """startingOffsets=latest anchors the stream at the current log end:
    pre-existing records are never delivered, later produces are."""
    out, ckpt = str(tmp_path / "bronze"), str(tmp_path / "ckpt")
    pre = FX.raw_ws_messages(n=60, seed=2)
    post = FX.raw_ws_messages(n=40, seed=3)
    with MiniKafkaBroker() as broker:
        bootstrap = f"127.0.0.1:{broker.port}"
        _produce_messages(broker.port, pre)
        raw = read_raw_stream_from_kafka_wire(
            spark, bootstrap, starting_offsets="latest"
        )
        q = start_bronze_ingest(raw, out, ckpt, available_now=True,
                                allow_unbounded_drain=True)
        q.awaitTermination(120)
        first = (
            spark.read.parquet(out).count() if os.path.exists(f"{out}/_SUCCESS")
            or any(f.startswith("event_date=") for f in os.listdir(out))
            else 0
        ) if os.path.exists(out) else 0
        assert first == 0  # history skipped

        _produce_messages(broker.port, post)
        q2 = start_bronze_ingest(
            read_raw_stream_from_kafka_wire(spark, bootstrap, starting_offsets="latest"),
            out, ckpt, available_now=True, allow_unbounded_drain=True,
        )
        q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == FX.expected_trade_count(n=40, seed=3)


# ---------------------------------------------------------------------------
# round 8: the SINK half — df.write / writeStream into the broker (S2)
# ---------------------------------------------------------------------------


def test_batch_sink_keyed_routing(spark):
    """df.write.format('kafka_wire'): values land on the broker in real
    framing; explicit partition column wins, keyed rows route stably,
    and overwrite mode is refused (a log cannot be overwritten)."""
    from binance_data_pipeline_spark.sources.kafka_wire import kafka_fetch

    with MiniKafkaBroker() as broker:
        register_kafka_wire_source(spark)
        rows = [
            ("k1", '{"v": 1}', 0),
            ("k1", '{"v": 2}', 0),
            ("k2", '{"v": 3}', 1),
            (None, '{"v": 4}', 1),
        ]
        df = spark.createDataFrame(rows, "key string, value string, partition int")
        (
            df.coalesce(1)  # deterministic per-partition order for the assert
            .write.format("kafka_wire")
            .option("bootstrap", f"127.0.0.1:{broker.port}")
            .option("topic", "sink_t")
            .option("partitions", "2")
            .mode("append")
            .save()
        )
        _hwm0, p0 = kafka_fetch("127.0.0.1", broker.port, "sink_t", 0)
        _hwm1, p1 = kafka_fetch("127.0.0.1", broker.port, "sink_t", 1)
    assert [(k, v) for (_o, k, v, _t) in p0] == [(b"k1", b'{"v": 1}'), (b"k1", b'{"v": 2}')]
    assert sorted(v for (_o, k, v, _t) in p1) == [b'{"v": 3}', b'{"v": 4}']
    assert [o for (o, *_r) in p0] == [0, 1]  # broker-assigned contiguous offsets

    with MiniKafkaBroker() as broker2:
        df2 = spark.createDataFrame([("a", "b")], "key string, value string")
        import pytest as _pytest

        with _pytest.raises(Exception, match="cannot be overwritten|append"):
            (
                df2.write.format("kafka_wire")
                .option("bootstrap", f"127.0.0.1:{broker2.port}")
                .option("topic", "t")
                .mode("overwrite")
                .save()
            )


def test_stream_source_to_stream_sink_round_trip(spark, tmp_path):
    """Full socket→Spark→socket loop: readStream from topic A,
    transform, writeStream to topic B on the same broker — both legs
    jar-free, then an independent wire fetch of B checks the payloads.
    This is the reference's produce→consume cycle with Spark as the
    processor in the middle."""
    import json

    from pyspark.sql import functions as F

    from binance_data_pipeline_spark.sources.kafka_wire import (
        kafka_fetch,
        kafka_produce,
    )

    with MiniKafkaBroker() as broker:
        msgs = [json.dumps({"i": i}) for i in range(30)]
        _produce_messages(broker.port, msgs, n_partitions=2, topic="in_t")
        register_kafka_wire_source(spark)
        src = (
            spark.readStream.format("kafka_wire")
            .option("bootstrap", f"127.0.0.1:{broker.port}")
            .option("topic", "in_t")
            .load()
        )
        out = src.select(
            F.col("key").cast("string").alias("key"),
            F.upper(F.col("value").cast("string")).alias("value"),
        )
        q = (
            out.writeStream.format("kafka_wire")
            .option("bootstrap", f"127.0.0.1:{broker.port}")
            .option("topic", "out_t")
            .option("partitions", "2")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = []
        for p in (0, 1):
            _h, recs = kafka_fetch("127.0.0.1", broker.port, "out_t", p)
            got.extend(v.decode() for (_o, _k, v, _t) in recs)
    assert len(got) == 30
    assert sorted(got) == sorted(json.dumps({"i": i}).upper() for i in range(30))


def test_keyed_routing_uses_kafka_murmur2():
    """Keyed sink routing must be Kafka's DefaultPartitioner —
    toPositive(murmur2(key)) % N — so records keyed by this sink land
    on the SAME partition a Java client producing to the topic would
    pick. Hash pinned against Apache Kafka's public UtilsTest vectors."""
    import struct

    from binance_data_pipeline_spark.sources.kafka_source import _murmur2

    vectors = {
        b"21": -973932308,
        b"foobar": -790332482,
        b"a-little-bit-long-string": -985981536,
        b"a-little-bit-longer-string": -1486304829,
        b"lkjh234lh9fiuh90y23oiuhsafujhadof229phr9h19h89h8": -58897971,
        b"abc": 479470107,
    }
    for key, want in vectors.items():
        got = struct.unpack("i", struct.pack("I", _murmur2(key)))[0]
        assert got == want, key
    # DefaultPartitioner routing for a known key at N=3
    assert (_murmur2(b"foobar") & 0x7FFFFFFF) % 3 == (-790332482 & 0x7FFFFFFF) % 3


def test_restart_after_backlog_is_capped(spark, tmp_path):
    """The reader plans each batch from the engine's checkpointed start
    offset, so a restart against a large backlog plans CAPPED catch-up
    batches — the exact stall/OOM case maxOffsetsPerTrigger (the
    reference's 1000-msg bound) exists for."""
    out, ckpt = str(tmp_path / "bronze"), str(tmp_path / "ckpt")
    with MiniKafkaBroker() as broker:
        bootstrap = f"127.0.0.1:{broker.port}"
        _produce_messages(broker.port, FX.raw_ws_messages(n=20, seed=21), batch=1000)
        raw = read_raw_stream_from_kafka_wire(
            spark, bootstrap, max_offsets_per_trigger=30
        )
        q = start_bronze_ingest(raw, out, ckpt, trigger_interval="1 seconds")
        q.processAllAvailable()
        q.stop()

        # backlog lands while the stream is DOWN — the first batch of
        # the next incarnation is the one the cap must hold on
        _produce_messages(broker.port, FX.raw_ws_messages(n=200, seed=22), batch=1000)
        raw2 = read_raw_stream_from_kafka_wire(
            spark, bootstrap, max_offsets_per_trigger=30
        )
        q2 = start_bronze_ingest(raw2, out, ckpt, trigger_interval="1 seconds")
        q2.processAllAvailable()
        batches = [p["numInputRows"] for p in q2.recentProgress]
        q2.stop()
    assert max(batches) <= 30, f"restart batch uncapped: {batches}"
    expected = FX.expected_trade_count(n=20, seed=21) + FX.expected_trade_count(
        n=200, seed=22
    )
    assert spark.read.parquet(out).count() == expected
    # no replays either: capped restart ranges stay exact
    assert (
        spark.read.parquet(out)
        .select("trade_id", "price", "quantity").distinct().count() == expected
    )


def test_commit_to_broker_mirrors_checkpoint(spark, tmp_path):
    """commitToBroker mirrors engine-committed offsets to the broker
    (OffsetCommit as a simple consumer) so external lag tooling sees
    the stream's progress, like the jar connector's kafka.group.id.
    Contract pinned here: the broker-visible offsets equal the end
    offsets of a batch the ENGINE has committed (never ahead of the
    checkpoint; at most one batch behind the latest), and exactly-once
    still rests on the checkpoint alone."""
    import time

    from binance_data_pipeline_spark.sources.kafka_wire import (
        kafka_offset_fetch,
    )

    out, ckpt = str(tmp_path / "bronze"), str(tmp_path / "ckpt")
    group = "bdp-lag-monitor"
    with MiniKafkaBroker() as broker:
        bootstrap = f"127.0.0.1:{broker.port}"
        raw = read_raw_stream_from_kafka_wire(
            spark, bootstrap, commit_to_broker=group
        )
        q = start_bronze_ingest(raw, out, ckpt, trigger_interval="1 seconds")
        try:
            # several waves so commit() (which fires at the NEXT batch's
            # start) runs for all but possibly the final batch
            for seed, n in ((31, 60), (32, 40), (33, 20)):
                _produce_messages(broker.port, FX.raw_ws_messages(n=n, seed=seed))
                q.processAllAvailable()
            deadline = time.time() + 30
            committed: dict[int, int] = {}
            while time.time() < deadline:
                committed = kafka_offset_fetch(
                    "127.0.0.1", broker.port, group, "binance_trades_raw",
                    [0, 1],
                )
                if sum(committed.values()) >= 100:  # waves 1+2 = 100 msgs
                    break
                q.processAllAvailable()
                time.sleep(0.5)
        finally:
            q.stop()

        # a foreign group sees nothing (commits are per-group)
        assert kafka_offset_fetch(
            "127.0.0.1", broker.port, "other-group", "binance_trades_raw",
            [0, 1],
        ) == {}

    # the broker-visible offsets are EXACTLY the end offsets of an
    # engine-committed batch: parse every committed batch's offset file
    # from the checkpoint and require membership
    committed_batches = set(os.listdir(f"{ckpt}/commits"))
    valid: list[dict[int, int]] = []
    for b in committed_batches:
        if b.startswith("."):
            continue
        with open(f"{ckpt}/offsets/{b}") as fh:
            lines = fh.read().splitlines()
        for line in lines[1:]:
            try:
                d = json.loads(line)
            except json.JSONDecodeError:
                continue
            if isinstance(d, dict) and all(k.isdigit() for k in d):
                valid.append({int(k): int(v) for k, v in d.items()})
    assert committed, "no broker-visible offsets at all"
    assert committed in valid, (committed, valid)
    # never ahead of the log end; at least the first two waves mirrored
    assert sum(committed.values()) >= 100
    assert sum(committed.values()) <= 120


def test_available_now_refused_on_rate_limited_kafka_wire(spark, tmp_path):
    """The engine silently runs Python-DataSource availableNow as ONE
    batch capped at maxOffsetsPerTrigger, so a larger backlog would not
    be drained — the ingest helper refuses instead of silently leaving
    it behind (escape hatch for backlogs known to fit under the cap)."""
    with MiniKafkaBroker() as broker:
        _produce_messages(broker.port, FX.raw_ws_messages(n=5, seed=1))
        raw = read_raw_stream_from_kafka_wire(spark, f"127.0.0.1:{broker.port}")
        with pytest.raises(ValueError, match="SINGLE batch capped"):
            start_bronze_ingest(
                raw, str(tmp_path / "o"), str(tmp_path / "c"), available_now=True
            )


def test_partition_added_mid_stream_drains_from_earliest(spark, tmp_path):
    """A partition appearing in broker metadata mid-stream is picked up
    from its earliest offset (the jar connector's posture) — not
    silently dropped; a partition VANISHING raises loudly (topics
    cannot shrink: the topic was recreated, offsets are meaningless)."""
    out, ckpt = str(tmp_path / "bronze"), str(tmp_path / "ckpt")
    with MiniKafkaBroker() as broker:
        bootstrap = f"127.0.0.1:{broker.port}"
        # only partition 0 exists at stream start
        _produce_messages(broker.port, FX.raw_ws_messages(n=30, seed=31),
                          n_partitions=1, batch=1000)
        raw = read_raw_stream_from_kafka_wire(spark, bootstrap)
        q = start_bronze_ingest(raw, out, ckpt, trigger_interval="1 seconds")
        try:
            q.processAllAvailable()
            n1 = spark.read.parquet(out).count()
            assert n1 == FX.expected_trade_count(n=30, seed=31)
            # partition 1 appears mid-stream with its own records
            _produce_messages(broker.port, FX.raw_ws_messages(n=20, seed=32),
                              n_partitions=2, batch=1000)
            q.processAllAvailable()
        finally:
            q.stop()
    expected = FX.expected_trade_count(n=30, seed=31) + FX.expected_trade_count(
        n=20, seed=32
    )
    assert spark.read.parquet(out).count() == expected

    # vanished partition: unit-level (a MiniKafkaBroker topic cannot
    # shrink, which is exactly the invariant being enforced)
    from binance_data_pipeline_spark.sources.kafka_source import (
        _KafkaWireStreamReader,
    )

    with MiniKafkaBroker() as broker:
        kafka_produce("127.0.0.1", broker.port, "t1", 0, [(None, b"x", 0)])
        rdr = _KafkaWireStreamReader("127.0.0.1", broker.port, "t1",
                                     "earliest", None)
        with pytest.raises(ValueError, match="vanished"):
            rdr.read({"0": 1, "1": 1})  # start names a partition 1
