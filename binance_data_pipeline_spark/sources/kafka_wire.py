"""Minimal Kafka wire-protocol harness: an in-process broker + client
speaking the PUBLIC Kafka protocol over a real TCP socket.

Purpose (VERDICT r6 item 7): the sandbox has no broker binary, no
spark-sql-kafka connector jar, and no network, so the S2/S3 Kafka legs
could never touch a socket. This module closes the gap as far as the
sandbox physically allows: the reference's keyed-JSON publish
(producer/binance_ws_to_kafka.py:22-28) and earliest-offset consume
(producer/kafka_to_s3_bronze.py:20-27) are exercised END TO END over a
loopback socket in the actual Kafka framing —

- request/response framing (length-prefixed, header v1 correlation);
- ApiVersions v0 / Metadata v0 / Produce v3 / Fetch v4 bodies;
- RecordBatch format v2 (KIP-98): CRC32C integrity, zigzag-varint
  records, timestamp/offset deltas, null-key handling.

Everything here is the published protocol (kafka.apache.org/protocol);
the point is that bytes our producer frames are validated by an
independent decode (CRC checked, offsets assigned broker-side) after
crossing a real socket, and the fetched records then feed the SAME
`kafka_records_to_raw` → `bronze_stream` chain the Spark consumer runs
(tests/test_kafka_wire.py). Since round 8 this module also backs a
full Structured Streaming source — ``sources/kafka_source.py`` exposes
``format("kafka_wire")`` through the Python DataSource API, so the
socket → Spark → bronze leg runs END TO END with no connector jar
(tests/test_kafka_source.py); the old documented skip is gone.

The engine's real-time path starts at this topic: any Kafka producer
(the reference's WebSocket producer, S1) feeds it, and the topic's
offsets are what make the stream replayable, hence exactly-once.
"""

from __future__ import annotations

import io
import socket
import socketserver
import struct
import threading

__all__ = [
    "crc32c",
    "encode_record_batch",
    "decode_record_batch",
    "MiniKafkaBroker",
    "kafka_produce",
    "kafka_fetch",
    "kafka_list_offsets",
    "kafka_partitions",
]

# ---------------------------------------------------------------------------
# CRC32C (Castagnoli) — required by RecordBatch v2; zlib only has IEEE.
# ---------------------------------------------------------------------------

_CRC32C_POLY = 0x82F63B78
_CRC32C_TABLE: list[int] = []
for _n in range(256):
    _c = _n
    for _ in range(8):
        _c = (_c >> 1) ^ _CRC32C_POLY if _c & 1 else _c >> 1
    _CRC32C_TABLE.append(_c)


def crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ _CRC32C_TABLE[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


# ---------------------------------------------------------------------------
# Zigzag varints (the protobuf scheme RecordBatch v2 uses for records)
# ---------------------------------------------------------------------------


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _write_varint(out: io.BytesIO, n: int) -> None:
    v = _zigzag(n) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.write(bytes([b | 0x80]))
        else:
            out.write(bytes([b]))
            return


def _read_varint(buf: io.BytesIO) -> int:
    shift, acc = 0, 0
    while True:
        (b,) = buf.read(1)
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return _unzigzag(acc)
        shift += 7


# ---------------------------------------------------------------------------
# RecordBatch v2
# ---------------------------------------------------------------------------


def encode_record_batch(
    records: list[tuple[bytes | None, bytes | None, int]],
    base_offset: int = 0,
) -> bytes:
    """``records`` = [(key|None, value|None, timestamp_ms)]; returns the
    full batch bytes (baseOffset..records), CRC32C stamped over
    attributes→end exactly as the spec requires."""
    if not records:
        raise ValueError("empty record batch")
    base_ts = records[0][2]
    max_ts = max(r[2] for r in records)

    recs = io.BytesIO()
    for i, (key, value, ts) in enumerate(records):
        body = io.BytesIO()
        body.write(b"\x00")  # record attributes
        _write_varint(body, ts - base_ts)  # timestampDelta
        _write_varint(body, i)  # offsetDelta
        for field in (key, value):
            if field is None:
                _write_varint(body, -1)
            else:
                _write_varint(body, len(field))
                body.write(field)
        _write_varint(body, 0)  # headers count
        payload = body.getvalue()
        _write_varint(recs, len(payload))
        recs.write(payload)

    # attributes(2) lastOffsetDelta(4) baseTs(8) maxTs(8) producerId(8)
    # producerEpoch(2) baseSequence(4) count(4) + records
    crc_part = (
        struct.pack(">hiqqqhii", 0, len(records) - 1, base_ts, max_ts, -1, -1, -1, len(records))
        + recs.getvalue()
    )
    crc = crc32c(crc_part)
    # partitionLeaderEpoch(4) magic(1) crc(4) + crc_part
    after_len = struct.pack(">iBI", 0, 2, crc) + crc_part
    return struct.pack(">qi", base_offset, len(after_len)) + after_len


def decode_record_batch(data: bytes):
    """Inverse of ``encode_record_batch`` with CRC verification; returns
    (base_offset, [(offset, key|None, value|None, timestamp_ms)]).
    Raises ValueError on magic/CRC mismatch — a tampered or torn batch
    must never decode silently."""
    base_offset, batch_len = struct.unpack_from(">qi", data, 0)
    body = data[12 : 12 + batch_len]
    _epoch, magic, crc = struct.unpack_from(">iBI", body, 0)
    if magic != 2:
        raise ValueError(f"unsupported record batch magic {magic}")
    crc_part = body[9:]
    if crc32c(crc_part) != crc:
        raise ValueError("record batch CRC32C mismatch")
    (_attrs, _last_delta, base_ts, _max_ts, _pid, _pepoch, _bseq, count) = struct.unpack_from(
        ">hiqqqhii", crc_part, 0
    )
    buf = io.BytesIO(crc_part[40:])
    out = []
    for _ in range(count):
        _read_varint(buf)  # record length
        buf.read(1)  # record attributes
        ts_delta = _read_varint(buf)
        off_delta = _read_varint(buf)
        klen = _read_varint(buf)
        key = buf.read(klen) if klen >= 0 else None
        vlen = _read_varint(buf)
        value = buf.read(vlen) if vlen >= 0 else None
        for _ in range(_read_varint(buf)):  # headers (ignored)
            hk = _read_varint(buf)
            buf.read(max(hk, 0))
            hv = _read_varint(buf)
            buf.read(max(hv, 0))
        out.append((base_offset + off_delta, key, value, base_ts + ts_delta))
    return base_offset, out


# ---------------------------------------------------------------------------
# Primitive readers/writers for the (non-flexible) protocol versions used
# ---------------------------------------------------------------------------


def _w_str(out: io.BytesIO, s: str | None) -> None:
    if s is None:
        out.write(struct.pack(">h", -1))
    else:
        b = s.encode()
        out.write(struct.pack(">h", len(b)) + b)


def _r_str(buf: io.BytesIO) -> str | None:
    (n,) = struct.unpack(">h", buf.read(2))
    return None if n < 0 else buf.read(n).decode()


def _w_bytes(out: io.BytesIO, b: bytes | None) -> None:
    if b is None:
        out.write(struct.pack(">i", -1))
    else:
        out.write(struct.pack(">i", len(b)) + b)


def _r_bytes(buf: io.BytesIO) -> bytes | None:
    (n,) = struct.unpack(">i", buf.read(4))
    return None if n < 0 else buf.read(n)


# ---------------------------------------------------------------------------
# Broker
# ---------------------------------------------------------------------------


class _Handler(socketserver.BaseRequestHandler):
    def handle(self) -> None:  # one connection, many requests
        while True:
            hdr = self._recv(4)
            if hdr is None:
                return
            (size,) = struct.unpack(">i", hdr)
            payload = self._recv(size)
            if payload is None:
                return
            buf = io.BytesIO(payload)
            api_key, api_version, corr = struct.unpack(">hhi", buf.read(8))
            _r_str(buf)  # client_id
            broker: MiniKafkaBroker = self.server.broker  # type: ignore[attr-defined]
            body = broker._dispatch(api_key, api_version, buf)
            resp = struct.pack(">i", corr) + body
            self.request.sendall(struct.pack(">i", len(resp)) + resp)

    def _recv(self, n: int) -> bytes | None:
        data = b""
        while len(data) < n:
            chunk = self.request.recv(n - len(data))
            if not chunk:
                return None
            data += chunk
        return data


class MiniKafkaBroker:
    """Single-node broker storing batches in memory per (topic,
    partition): enough protocol for a produce→fetch round trip in real
    framing. Offsets are assigned broker-side (batches are re-based), so
    the consumer's offset arithmetic is independently checked. Use as a
    context manager; `port` is bound on entry (loopback only)."""

    def __init__(self) -> None:
        # per (topic, partition): [(base_offset, record_count, batch_bytes)]
        self._log: dict[tuple[str, int], list[tuple[int, int, bytes]]] = {}
        self._next: dict[tuple[str, int], int] = {}
        # consumer-group committed offsets: (group, topic, partition) -> offset
        self._group_offsets: dict[tuple[str, str, int], int] = {}
        self._lock = threading.Lock()
        self.port: int | None = None

    def __enter__(self) -> "MiniKafkaBroker":
        self._srv = socketserver.ThreadingTCPServer(("127.0.0.1", 0), _Handler)
        self._srv.daemon_threads = True
        self._srv.broker = self  # type: ignore[attr-defined]
        self.port = self._srv.server_address[1]
        self._thread = threading.Thread(target=self._srv.serve_forever, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._srv.shutdown()
        self._srv.server_close()

    # -- fault injection (VERDICT r11 task 5) --------------------------------

    def crash(self) -> None:
        """Stop serving, KEEP the log and group offsets — the in-process
        analogue of a broker process dying while its disk survives.
        Clients get connection-refused until :meth:`restart`."""
        self._srv.shutdown()
        self._srv.server_close()

    def restart(self) -> None:
        """Come back on the SAME port with the same log — what a
        restarted broker looks like to producers (retry succeeds) and to
        the engine (ListOffsets/Fetch/OffsetFetch resume where the log
        left off; committed group offsets are intact)."""
        if self.port is None:
            raise RuntimeError("broker was never started")
        srv = socketserver.ThreadingTCPServer(
            ("127.0.0.1", self.port), _Handler, bind_and_activate=False
        )
        srv.allow_reuse_address = True  # rebind the port just closed
        srv.server_bind()
        srv.server_activate()
        srv.daemon_threads = True
        srv.broker = self  # type: ignore[attr-defined]
        self._srv = srv
        self._thread = threading.Thread(target=srv.serve_forever, daemon=True)
        self._thread.start()

    # -- protocol bodies ----------------------------------------------------

    def _dispatch(self, api_key: int, api_version: int, buf: io.BytesIO) -> bytes:
        if api_key == 18:  # ApiVersions v0
            out = io.BytesIO()
            out.write(struct.pack(">h", 0))  # error
            versions = [(18, 0, 0), (3, 0, 0), (0, 3, 3), (1, 4, 4), (2, 1, 1),
                        (8, 2, 2), (9, 1, 1)]
            out.write(struct.pack(">i", len(versions)))
            for k, lo, hi in versions:
                out.write(struct.pack(">hhh", k, lo, hi))
            return out.getvalue()
        if api_key == 3:  # Metadata v0
            (ntopics,) = struct.unpack(">i", buf.read(4))
            names = [_r_str(buf) for _ in range(ntopics)]
            with self._lock:
                known = sorted({t for t, _ in self._log})
            topics = names if ntopics > 0 else known
            out = io.BytesIO()
            out.write(struct.pack(">i", 1))  # brokers
            out.write(struct.pack(">i", 0))
            _w_str(out, "127.0.0.1")
            out.write(struct.pack(">i", self.port or 0))
            out.write(struct.pack(">i", len(topics)))
            for t in topics:
                out.write(struct.pack(">h", 0))
                _w_str(out, t)
                with self._lock:
                    parts = sorted(p for tt, p in self._log if tt == t) or [0]
                out.write(struct.pack(">i", len(parts)))
                for p in parts:
                    out.write(struct.pack(">hii", 0, p, 0))
                    out.write(struct.pack(">ii", 1, 0))  # replicas [0]
                    out.write(struct.pack(">ii", 1, 0))  # isr [0]
            return out.getvalue()
        if api_key == 0 and api_version == 3:  # Produce v3
            _r_str(buf)  # transactional_id
            struct.unpack(">hi", buf.read(6))  # acks, timeout
            (ntopics,) = struct.unpack(">i", buf.read(4))
            out_topics = []
            for _ in range(ntopics):
                topic = _r_str(buf) or ""
                (nparts,) = struct.unpack(">i", buf.read(4))
                part_resps = []
                for _ in range(nparts):
                    (partition,) = struct.unpack(">i", buf.read(4))
                    record_set = _r_bytes(buf) or b""
                    base = self._append(topic, partition, record_set)
                    part_resps.append((partition, 0, base))
                out_topics.append((topic, part_resps))
            out = io.BytesIO()
            out.write(struct.pack(">i", len(out_topics)))
            for topic, part_resps in out_topics:
                _w_str(out, topic)
                out.write(struct.pack(">i", len(part_resps)))
                for partition, err, base in part_resps:
                    out.write(struct.pack(">ihqq", partition, err, base, -1))
            out.write(struct.pack(">i", 0))  # throttle_time
            return out.getvalue()
        if api_key == 1 and api_version == 4:  # Fetch v4
            struct.unpack(">iiii", buf.read(16))  # replica, wait, min, max
            buf.read(1)  # isolation
            (ntopics,) = struct.unpack(">i", buf.read(4))
            out = io.BytesIO()
            out.write(struct.pack(">i", 0))  # throttle_time
            out.write(struct.pack(">i", ntopics))
            for _ in range(ntopics):
                topic = _r_str(buf) or ""
                (nparts,) = struct.unpack(">i", buf.read(4))
                _w_str(out, topic)
                out.write(struct.pack(">i", nparts))
                for _ in range(nparts):
                    partition, fetch_offset, _maxb = struct.unpack(
                        ">iqi", buf.read(16)
                    )
                    record_set, hwm = self._read(topic, partition, fetch_offset)
                    out.write(struct.pack(">ihqq", partition, 0, hwm, hwm))
                    out.write(struct.pack(">i", 0))  # aborted_transactions
                    _w_bytes(out, record_set)
            return out.getvalue()
        if api_key == 2 and api_version == 1:  # ListOffsets v1
            struct.unpack(">i", buf.read(4))  # replica_id
            (ntopics,) = struct.unpack(">i", buf.read(4))
            out = io.BytesIO()
            out.write(struct.pack(">i", ntopics))
            for _ in range(ntopics):
                topic = _r_str(buf) or ""
                (nparts,) = struct.unpack(">i", buf.read(4))
                _w_str(out, topic)
                out.write(struct.pack(">i", nparts))
                for _ in range(nparts):
                    partition, ts = struct.unpack(">iq", buf.read(12))
                    with self._lock:
                        key = (topic, partition)
                        latest = self._next.get(key, 0)
                        entries = self._log.get(key, [])
                        earliest = entries[0][0] if entries else 0
                    # -1 = latest, -2 = earliest (the spec's sentinel
                    # timestamps); arbitrary timestamps unsupported here
                    off = latest if ts == -1 else earliest
                    out.write(struct.pack(">ihqq", partition, 0, -1, off))
            return out.getvalue()
        if api_key == 8 and api_version == 2:  # OffsetCommit v2
            group = _r_str(buf) or ""
            struct.unpack(">i", buf.read(4))  # generation_id (-1: simple)
            _r_str(buf)  # member_id
            struct.unpack(">q", buf.read(8))  # retention_time
            (ntopics,) = struct.unpack(">i", buf.read(4))
            out = io.BytesIO()
            out.write(struct.pack(">i", ntopics))
            for _ in range(ntopics):
                topic = _r_str(buf) or ""
                (nparts,) = struct.unpack(">i", buf.read(4))
                _w_str(out, topic)
                out.write(struct.pack(">i", nparts))
                for _ in range(nparts):
                    partition, offset = struct.unpack(">iq", buf.read(12))
                    _r_str(buf)  # metadata
                    with self._lock:
                        self._group_offsets[(group, topic, partition)] = offset
                    out.write(struct.pack(">ih", partition, 0))
            return out.getvalue()
        if api_key == 9 and api_version == 1:  # OffsetFetch v1
            group = _r_str(buf) or ""
            (ntopics,) = struct.unpack(">i", buf.read(4))
            out = io.BytesIO()
            out.write(struct.pack(">i", ntopics))
            for _ in range(ntopics):
                topic = _r_str(buf) or ""
                (nparts,) = struct.unpack(">i", buf.read(4))
                _w_str(out, topic)
                out.write(struct.pack(">i", nparts))
                for _ in range(nparts):
                    (partition,) = struct.unpack(">i", buf.read(4))
                    with self._lock:
                        off = self._group_offsets.get(
                            (group, topic, partition), -1
                        )
                    # -1 + empty metadata + no error == "no committed
                    # offset", the real broker's shape
                    out.write(struct.pack(">iq", partition, off))
                    _w_str(out, "")
                    out.write(struct.pack(">h", 0))
            return out.getvalue()
        raise ValueError(f"unsupported api_key={api_key} v{api_version}")

    # -- log ----------------------------------------------------------------

    def _append(self, topic: str, partition: int, record_set: bytes) -> int:
        """Validate (CRC!) and re-base the produced batch at the next
        offset — broker-side offset assignment, like the real thing."""
        _base, records = decode_record_batch(record_set)  # raises on CRC
        with self._lock:
            key = (topic, partition)
            base = self._next.get(key, 0)
            rebased = encode_record_batch(
                [(k, v, ts) for (_off, k, v, ts) in records], base_offset=base
            )
            self._log.setdefault(key, []).append((base, len(records), rebased))
            self._next[key] = base + len(records)
            return base

    def _read(self, topic: str, partition: int, fetch_offset: int):
        # like the real broker, return every batch that OVERLAPS the
        # fetch offset (base+count > offset), not only batches starting
        # at or after it — a consumer resuming mid-batch must see the
        # containing batch and filter client-side (kafka_fetch does)
        with self._lock:
            key = (topic, partition)
            hwm = self._next.get(key, 0)
            batches = [
                b
                for (base, count, b) in self._log.get(key, [])
                if base + count > fetch_offset
            ]
        return (b"".join(batches) if batches else None), hwm


# ---------------------------------------------------------------------------
# Client
# ---------------------------------------------------------------------------


def _recv_exact(sock: socket.socket, n: int) -> bytes:
    """Read exactly n bytes; raise on a peer that closes mid-response.

    recv() returning b'' means EOF — looping on it would spin forever
    (a broker that drops the connection after a partial response must
    surface as an error, not a hang)."""
    data = b""
    while len(data) < n:
        chunk = sock.recv(n - len(data))
        if not chunk:
            raise ConnectionError(
                f"broker closed connection mid-response ({len(data)}/{n} bytes)"
            )
        data += chunk
    return data


def _roundtrip(host: str, port: int, api_key: int, api_version: int, body: bytes) -> io.BytesIO:
    req = io.BytesIO()
    req.write(struct.pack(">hhi", api_key, api_version, 7))
    _w_str(req, "bdp-wire-client")
    req.write(body)
    payload = req.getvalue()
    with socket.create_connection((host, port), timeout=10) as s:
        s.sendall(struct.pack(">i", len(payload)) + payload)
        (size,) = struct.unpack(">i", _recv_exact(s, 4))
        data = _recv_exact(s, size)
    buf = io.BytesIO(data)
    (corr,) = struct.unpack(">i", buf.read(4))
    if corr != 7:
        raise ValueError(f"correlation mismatch: {corr}")
    return buf


def kafka_produce(
    host: str,
    port: int,
    topic: str,
    partition: int,
    records: list[tuple[bytes | None, bytes | None, int]],
) -> int:
    """Produce one RecordBatch v2 via Produce v3; returns the broker's
    assigned base offset."""
    body = io.BytesIO()
    _w_str(body, None)  # transactional_id
    body.write(struct.pack(">hi", -1, 10_000))  # acks=all, timeout
    body.write(struct.pack(">i", 1))
    _w_str(body, topic)
    body.write(struct.pack(">i", 1))
    body.write(struct.pack(">i", partition))
    _w_bytes(body, encode_record_batch(records))
    resp = _roundtrip(host, port, 0, 3, body.getvalue())
    (ntopics,) = struct.unpack(">i", resp.read(4))
    assert ntopics == 1
    _r_str(resp)
    (nparts,) = struct.unpack(">i", resp.read(4))
    assert nparts == 1
    _p, err, base, _lat = struct.unpack(">ihqq", resp.read(22))
    if err != 0:
        raise ValueError(f"produce error {err}")
    return base


def kafka_fetch(
    host: str, port: int, topic: str, partition: int, fetch_offset: int = 0,
    end: int | None = None,
):
    """Fetch v4 from ``fetch_offset``; returns (high_watermark,
    [(offset, key|None, value|None, timestamp_ms)]) with every batch
    CRC-verified on decode. With ``end`` (exclusive) only records in
    ``[fetch_offset, end)`` are returned, and batches whose base offset
    is at or past ``end`` are skipped without decoding."""
    body = io.BytesIO()
    body.write(struct.pack(">iiii", -1, 500, 1, 1 << 24))
    body.write(b"\x00")  # isolation READ_UNCOMMITTED
    body.write(struct.pack(">i", 1))
    _w_str(body, topic)
    body.write(struct.pack(">i", 1))
    body.write(struct.pack(">iqi", partition, fetch_offset, 1 << 24))
    resp = _roundtrip(host, port, 1, 4, body.getvalue())
    struct.unpack(">i", resp.read(4))  # throttle
    (ntopics,) = struct.unpack(">i", resp.read(4))
    assert ntopics == 1
    _r_str(resp)
    (nparts,) = struct.unpack(">i", resp.read(4))
    assert nparts == 1
    _p, err, hwm, _lso = struct.unpack(">ihqq", resp.read(22))
    if err != 0:
        raise ValueError(f"fetch error {err}")
    struct.unpack(">i", resp.read(4))  # aborted_transactions (empty)
    record_set = _r_bytes(resp)
    out = []
    data = record_set or b""
    pos = 0
    stop = end if end is not None else float("inf")
    while pos < len(data):
        base, batch_len = struct.unpack_from(">qi", data, pos)
        if base >= stop:
            break  # batches are offset-ordered: the rest is past ``end``
        batch = data[pos : pos + 12 + batch_len]
        _b, records = decode_record_batch(batch)
        out.extend(r for r in records if fetch_offset <= r[0] < stop)
        pos += 12 + batch_len
    return hwm, out


def kafka_list_offsets(
    host: str, port: int, topic: str, partition: int, earliest: bool = False
) -> int:
    """ListOffsets v1: the partition's log-end offset (or log-start with
    ``earliest=True``) WITHOUT transferring record data — what a source
    driver polls to plan a micro-batch."""
    body = io.BytesIO()
    body.write(struct.pack(">i", -1))  # replica_id
    body.write(struct.pack(">i", 1))
    _w_str(body, topic)
    body.write(struct.pack(">i", 1))
    body.write(struct.pack(">iq", partition, -2 if earliest else -1))
    resp = _roundtrip(host, port, 2, 1, body.getvalue())
    (ntopics,) = struct.unpack(">i", resp.read(4))
    assert ntopics == 1
    _r_str(resp)
    (nparts,) = struct.unpack(">i", resp.read(4))
    assert nparts == 1
    _p, err, _ts, off = struct.unpack(">ihqq", resp.read(22))
    if err != 0:
        raise ValueError(f"list_offsets error {err}")
    return off


def kafka_offset_commit(
    host: str, port: int, group: str, topic: str, offsets: dict[int, int]
) -> None:
    """OffsetCommit v2 as a simple (non-group-managed) consumer
    (generation -1, empty member id — the protocol's standalone-consumer
    shape): publish committed offsets for ``group`` so external tooling
    (lag monitors, `kafka-consumer-groups.sh`) sees the stream's
    progress, as the jar connector's ``kafka.group.id`` option does."""
    body = io.BytesIO()
    _w_str(body, group)
    body.write(struct.pack(">i", -1))  # generation_id: simple consumer
    _w_str(body, "")  # member_id
    body.write(struct.pack(">q", -1))  # retention_time: broker default
    body.write(struct.pack(">i", 1))
    _w_str(body, topic)
    body.write(struct.pack(">i", len(offsets)))
    for p, off in sorted(offsets.items()):
        body.write(struct.pack(">iq", p, off))
        _w_str(body, None)  # metadata
    resp = _roundtrip(host, port, 8, 2, body.getvalue())
    (ntopics,) = struct.unpack(">i", resp.read(4))
    assert ntopics == 1
    _r_str(resp)
    (nparts,) = struct.unpack(">i", resp.read(4))
    for _ in range(nparts):
        _p, err = struct.unpack(">ih", resp.read(6))
        if err != 0:
            raise ValueError(f"offset_commit error {err} for partition {_p}")


def kafka_offset_fetch(
    host: str, port: int, group: str, topic: str, partitions: list[int]
) -> dict[int, int]:
    """OffsetFetch v1: the broker-visible committed offsets of ``group``
    for ``topic`` — partitions with no committed offset are absent from
    the returned dict (the broker answers -1 for them)."""
    body = io.BytesIO()
    _w_str(body, group)
    body.write(struct.pack(">i", 1))
    _w_str(body, topic)
    body.write(struct.pack(">i", len(partitions)))
    for p in partitions:
        body.write(struct.pack(">i", p))
    resp = _roundtrip(host, port, 9, 1, body.getvalue())
    (ntopics,) = struct.unpack(">i", resp.read(4))
    assert ntopics == 1
    _r_str(resp)
    (nparts,) = struct.unpack(">i", resp.read(4))
    out: dict[int, int] = {}
    for _ in range(nparts):
        p, off = struct.unpack(">iq", resp.read(12))
        _r_str(resp)  # metadata
        (err,) = struct.unpack(">h", resp.read(2))
        if err != 0:
            raise ValueError(f"offset_fetch error {err} for partition {p}")
        if off >= 0:
            out[p] = off
    return out


def kafka_partitions(host: str, port: int, topic: str) -> list[int]:
    """Metadata v0: the topic's partition ids (what a source driver uses
    to plan one input partition per Kafka partition)."""
    body = io.BytesIO()
    body.write(struct.pack(">i", 1))
    _w_str(body, topic)
    resp = _roundtrip(host, port, 3, 0, body.getvalue())
    (nbrokers,) = struct.unpack(">i", resp.read(4))
    for _ in range(nbrokers):
        struct.unpack(">i", resp.read(4))  # node_id
        _r_str(resp)  # host
        struct.unpack(">i", resp.read(4))  # port
    (ntopics,) = struct.unpack(">i", resp.read(4))
    for _ in range(ntopics):
        (terr,) = struct.unpack(">h", resp.read(2))
        name = _r_str(resp)
        (nparts,) = struct.unpack(">i", resp.read(4))
        parts = []
        for _ in range(nparts):
            _perr, pid, _leader = struct.unpack(">hii", resp.read(10))
            (nrep,) = struct.unpack(">i", resp.read(4))
            resp.read(4 * nrep)
            (nisr,) = struct.unpack(">i", resp.read(4))
            resp.read(4 * nisr)
            parts.append(pid)
        if name == topic:
            if terr != 0:
                raise ValueError(f"metadata error {terr} for topic {topic!r}")
            return sorted(parts)
    raise ValueError(f"topic {topic!r} not in metadata response")
