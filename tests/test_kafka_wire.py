"""Kafka wire-protocol harness (VERDICT r6 item 7): the reference's
keyed-JSON produce → earliest-offset consume cycle exercised over a REAL
loopback socket in real Kafka framing (RecordBatch v2 + Produce v3 /
Fetch v4), with the fetched bytes fed through the same decode chain the
Spark consumer runs. The protocol layer pinned here also backs the
jar-free Structured Streaming source (sources/kafka_source.py), whose
end-to-end tests live in tests/test_kafka_source.py."""

from __future__ import annotations

import struct
import sys
from datetime import datetime, timezone

sys.path.insert(0, "/root/repo")

import json

import pytest

import fixtures as FX
from binance_data_pipeline_spark.sources.kafka_wire import (
    MiniKafkaBroker,
    crc32c,
    decode_record_batch,
    encode_record_batch,
    kafka_fetch,
    kafka_produce,
)
from binance_data_pipeline_spark.streaming.ingest import (
    KAFKA_SOURCE_SCHEMA,
    bronze_stream,
    kafka_records_to_raw,
)


def test_crc32c_known_vectors():
    """Published CRC-32C check values (RFC 3720 §B.4 / rfc3385 family):
    the empty string and '123456789'."""
    assert crc32c(b"") == 0x00000000
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"\x00" * 32) == 0x8A9136AA


def test_record_batch_roundtrip_and_crc_tamper():
    recs = [
        (b"BTCUSDT", b'{"p":"1.0"}', 1_700_000_000_000),
        (None, b"payload-no-key", 1_700_000_000_250),
        (b"ETHUSDT", None, 1_700_000_001_000),
    ]
    batch = encode_record_batch(recs, base_offset=42)
    base, out = decode_record_batch(batch)
    assert base == 42
    assert [(o, k, v, t) for o, k, v, t in out] == [
        (42, b"BTCUSDT", b'{"p":"1.0"}', 1_700_000_000_000),
        (43, None, b"payload-no-key", 1_700_000_000_250),
        (44, b"ETHUSDT", None, 1_700_000_001_000),
    ]
    # flip one payload byte: decode must REFUSE (CRC32C), never return junk
    tampered = bytearray(batch)
    tampered[-3] ^= 0x01
    with pytest.raises(ValueError, match="CRC32C"):
        decode_record_batch(bytes(tampered))


def test_produce_fetch_over_real_socket_offsets_and_keys():
    """Two produce calls, broker-side offset assignment, earliest and
    mid-stream fetches — the consumer's offset arithmetic is checked
    against what actually crossed the socket."""
    with MiniKafkaBroker() as broker:
        t0 = 1_700_000_000_000
        b0 = kafka_produce(
            "127.0.0.1", broker.port, "binance_trades_raw", 0,
            [(b"k0", b"v0", t0), (b"k1", b"v1", t0 + 1)],
        )
        b1 = kafka_produce(
            "127.0.0.1", broker.port, "binance_trades_raw", 0,
            [(b"k2", b"v2", t0 + 2)],
        )
        assert (b0, b1) == (0, 2)
        hwm, records = kafka_fetch(
            "127.0.0.1", broker.port, "binance_trades_raw", 0, fetch_offset=0
        )
        assert hwm == 3
        assert [(o, k, v) for o, k, v, _ in records] == [
            (0, b"k0", b"v0"), (1, b"k1", b"v1"), (2, b"k2", b"v2"),
        ]
        # committed-offset resume: fetch from 2 sees only the tail
        _, tail = kafka_fetch(
            "127.0.0.1", broker.port, "binance_trades_raw", 0, fetch_offset=2
        )
        assert [(o, v) for o, _, v, _ in tail] == [(2, b"v2")]


def test_fetch_with_end_decodes_only_overlapping_batches(monkeypatch):
    """``kafka_fetch(..., end)`` returns exactly ``[start, end)`` and
    stops at the first batch whose base offset is at or past ``end``
    without decoding it — every returned record still comes from a
    CRC-verified batch."""
    from binance_data_pipeline_spark.sources import kafka_wire as KW

    with MiniKafkaBroker() as broker:
        for b in range(10):  # 10 batches of 5: offsets 5b .. 5b+4
            kafka_produce(
                "127.0.0.1", broker.port, "t", 0,
                [(None, f"v{5 * b + i}".encode(), i) for i in range(5)],
            )
        calls = []

        def counting(data, _real=KW.decode_record_batch):
            calls.append(struct.unpack_from(">q", data, 0)[0])
            return _real(data)

        monkeypatch.setattr(KW, "decode_record_batch", counting)
        hwm, recs = kafka_fetch("127.0.0.1", broker.port, "t", 0, 12, 27)
        assert hwm == 50
        assert [o for o, *_ in recs] == list(range(12, 27))
        assert [v for _o, _k, v, _t in recs] == [f"v{o}".encode() for o in range(12, 27)]
        # the broker returns batches 10..45; only those overlapping
        # [12, 27) are decoded
        assert calls == [10, 15, 20, 25]

        calls.clear()
        _, tail = kafka_fetch("127.0.0.1", broker.port, "t", 0, 45)
        assert [o for o, *_ in tail] == list(range(45, 50)) and calls == [45]


def test_socket_roundtrip_feeds_spark_consumer_chain(spark):
    """End to end minus the connector jar: the reference producer's
    keyed publish (symbol key, JSON envelope value —
    binance_ws_to_kafka.py:22-28) over the real socket, fetched back
    with CRC-verified batches, then THROUGH the Spark-side decode
    (kafka_records_to_raw → bronze_stream) as KAFKA_SOURCE_SCHEMA rows
    — the exact record shape Spark's Kafka source would hand over."""
    msgs = FX.raw_ws_messages(n=120, seed=7)
    t0 = 1_700_000_000_000
    with MiniKafkaBroker() as broker:
        # producer parity: key = symbol (or None for non-trade noise)
        def key_of(m: str) -> bytes | None:
            try:
                sym = json.loads(m).get("data", {}).get("s")
                return sym.encode() if sym else None
            except Exception:
                return None

        for i in range(0, len(msgs), 40):  # several batches, one partition
            kafka_produce(
                "127.0.0.1", broker.port, "binance_trades_raw", 0,
                [(key_of(m), m.encode(), t0 + j) for j, m in enumerate(msgs[i : i + 40])],
            )
        hwm, fetched = kafka_fetch(
            "127.0.0.1", broker.port, "binance_trades_raw", 0, fetch_offset=0
        )
    assert hwm == len(msgs)
    assert [o for o, *_ in fetched] == list(range(len(msgs)))

    rows = [
        (
            key,
            value,
            "binance_trades_raw",
            0,
            offset,
            datetime.fromtimestamp(ts / 1000.0, tz=timezone.utc),
            0,
        )
        for offset, key, value, ts in fetched
    ]
    records = spark.createDataFrame(rows, KAFKA_SOURCE_SCHEMA)
    bronze = bronze_stream(kafka_records_to_raw(records))
    got = bronze.collect()
    assert len(got) == FX.expected_trade_count(n=120, seed=7)
    assert {r["symbol"] for r in got} <= {"BTCUSDT", "ETHUSDT", "BNBUSDT"}


def test_broker_rejects_corrupt_produce():
    """A produced batch whose bytes were damaged in flight must be
    refused at append (CRC check broker-side), not stored as garbage."""
    recs = [(b"k", b"v", 1_700_000_000_000)]
    batch = bytearray(encode_record_batch(recs))
    batch[-2] ^= 0xFF
    with MiniKafkaBroker() as broker:
        import io
        import socket

        from binance_data_pipeline_spark.sources import kafka_wire as KW

        body = io.BytesIO()
        KW._w_str(body, None)
        body.write(struct.pack(">hi", -1, 10_000))
        body.write(struct.pack(">i", 1))
        KW._w_str(body, "t")
        body.write(struct.pack(">i", 1))
        body.write(struct.pack(">i", 0))
        KW._w_bytes(body, bytes(batch))
        with pytest.raises(Exception):
            KW._roundtrip("127.0.0.1", broker.port, 0, 3, body.getvalue())
        # and the log stayed clean — a later produce lands at offset 0
        base = kafka_produce("127.0.0.1", broker.port, "t", 0, recs)
        assert base == 0


def test_roundtrip_raises_on_mid_response_close():
    """A broker that closes the connection after a PARTIAL response must
    raise promptly — recv() returning b'' is EOF, and looping on it
    would hang the client (and, through the commit mirror, the stream)
    forever (ADVICE r10)."""
    import socket
    import threading

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]

    def _half_responder():
        conn, _ = srv.accept()
        with conn:
            # read the request frame fully, then answer with a size
            # header promising 100 bytes but deliver only 4 and close.
            hdr = conn.recv(4)
            (n,) = struct.unpack(">i", hdr)
            got = b""
            while len(got) < n:
                got += conn.recv(n - len(got))
            conn.sendall(struct.pack(">i", 100) + b"\x00\x00\x00\x07")

    t = threading.Thread(target=_half_responder, daemon=True)
    t.start()
    try:
        from binance_data_pipeline_spark.sources import kafka_wire as KW

        with pytest.raises((ConnectionError, OSError)):
            KW._roundtrip("127.0.0.1", port, 2, 1, b"")
        t.join(timeout=5)
        assert not t.is_alive()
    finally:
        srv.close()


def test_roundtrip_raises_on_immediate_close():
    """EOF before even the 4-byte size header → error, not a struct
    crash deep in the caller."""
    import socket
    import threading

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]

    def _slammer():
        conn, _ = srv.accept()
        conn.close()

    t = threading.Thread(target=_slammer, daemon=True)
    t.start()
    try:
        from binance_data_pipeline_spark.sources import kafka_wire as KW

        with pytest.raises((ConnectionError, OSError)):
            KW._roundtrip("127.0.0.1", port, 2, 1, b"")
    finally:
        srv.close()


def test_commit_mirror_swallows_malformed_broker_errors(monkeypatch):
    """The broker OffsetCommit mirror is best-effort by contract: a
    truncated response (struct.error) or a malformed one
    (AssertionError) must not escape commit() and fail the streaming
    query (ADVICE r10, medium)."""
    from binance_data_pipeline_spark.sources import kafka_source as KS

    reader = KS._KafkaWireStreamReader(
        "127.0.0.1", 1, "t", "earliest", None, commit_group="lagmon",
    )

    for exc in (struct.error("short read"), AssertionError("ntopics"),
                ConnectionError("mid-response close")):
        def _boom(*a, _exc=exc, **k):
            raise _exc

        monkeypatch.setattr(KS, "kafka_offset_commit", _boom)
        reader.commit({"0": 5})  # must not raise


def test_broker_crash_restart_preserves_log_and_commits():
    """Fault-injection primitive (VERDICT r11 task 5): crash() refuses
    connections but keeps the log; restart() comes back on the SAME port
    with records, log-end offsets, and committed group offsets intact —
    the contract the soak's mid-run broker kill leans on."""
    import pytest as _pytest

    from binance_data_pipeline_spark.sources.kafka_wire import (
        kafka_list_offsets,
        kafka_offset_commit,
        kafka_offset_fetch,
    )

    with MiniKafkaBroker() as broker:
        port = broker.port
        kafka_produce("127.0.0.1", port, "t", 0,
                      [(b"k", b"v1", 1), (b"k", b"v2", 2)])
        kafka_offset_commit("127.0.0.1", port, "g", "t", {0: 1})

        broker.crash()
        with _pytest.raises(OSError):
            kafka_list_offsets("127.0.0.1", port, "t", 0)

        broker.restart()
        assert broker.port == port  # same bootstrap string keeps working
        assert kafka_list_offsets("127.0.0.1", port, "t", 0) == 2
        hwm, recs = kafka_fetch("127.0.0.1", port, "t", 0, 0)
        assert hwm == 2 and [r[2] for r in recs] == [b"v1", b"v2"]
        assert kafka_offset_fetch("127.0.0.1", port, "g", "t", [0]) == {0: 1}
        # and the restarted broker still accepts produces
        kafka_produce("127.0.0.1", port, "t", 0, [(b"k", b"v3", 3)])
        assert kafka_list_offsets("127.0.0.1", port, "t", 0) == 3
