"""The ``bronze_ingest`` workload: Binance trades -> Kafka -> bronze parquet.

An open-loop generator thread produces seeded Binance trade envelopes into
an in-process ``MiniKafkaBroker``; each envelope carries its scheduled
creation time in ``E``. The stream is the program's own real-time path:
``read_raw_stream_from_kafka_wire`` -> ``start_bronze_ingest`` (envelope
parse, bronze shape, checkpointed parquet file sink partitioned by
event date and hour, the shipped 5 s trigger).

1. A backlog of FIRST_BACKLOG x the per-trigger cap waits before the
   stream starts. The wire source's first batch after a start is uncapped
   by design, so ``sources.first_batch_rows`` shows it taking everything.
2. Catch-up: right after that batch commits, a burst of BURST x the cap
   arrives at once, just before a trigger, and drains through capped
   micro-batches.
3. Steady rate: RATE events per second for ``--seconds`` seconds, from
   just after the trigger of the burst's last batch; then the stream
   drains and stops.

The cap is ``rate x trigger x 4``, as ``scripts/streaming_soak.py`` sets
it, so in phase 3 the program sets the lag and the cap does not bind.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq

from common import RESTARTS, RssSampler, log, median, percentile, set_up, setup_s
from metrics import END_TO_END, PER_LAYER, with_units
from tracing import NoTracer, Tracer, load_event_log

PARTITIONS = 2
SYMBOLS = ("BTCUSDT", "ETHUSDT", "BNBUSDT")
TRIGGER_S = 5
FIRST_BACKLOG = 1.5
BURST = 2
NON_TRADE_SHARE = 0.02
SEND_EVERY_S = 0.05
#: The burst is sent this long before a trigger, the steady phase starts
#: this long after one (half a send slot, so its last slot is sent before
#: the trigger that ends the phase).
BURST_LEAD_S = 0.8
RATE_LAG_S = SEND_EVERY_S / 2
WAIT_LIMIT_S = 90.0
#: Steady-phase events per second (the reference's rate is 200).
RATE = 200


class Generator:
    """Seeded Binance trade envelopes, produced in order of trade id."""

    def __init__(self, port: int, topic: str, seed: int):
        self.port, self.topic = port, topic
        self.rng = random.Random(seed)
        self.next_id = 0
        self.trades = 0
        self.sent = 0
        self.late_ms: list[float] = []
        self.lock = threading.Lock()

    def _envelope(self, stamp_ms: int) -> tuple[int, bytes]:
        sym = self.rng.randrange(len(SYMBOLS))
        trade = self.rng.random() >= NON_TRADE_SHARE
        tid = self.next_id
        self.next_id += 1
        self.trades += trade
        data = {
            "e": "trade" if trade else "kline", "E": stamp_ms, "s": SYMBOLS[sym],
            "t": tid, "p": f"{self.rng.uniform(100, 70000):.2f}",
            "q": f"{self.rng.uniform(0.0001, 5):.4f}",
            "b": self.rng.randrange(1 << 40), "a": self.rng.randrange(1 << 40),
            "T": stamp_ms - self.rng.randrange(5), "m": self.rng.random() < 0.5,
            "M": True,
        }
        body = {"stream": f"{SYMBOLS[sym].lower()}@trade", "data": data}
        return sym % PARTITIONS, json.dumps(body, separators=(",", ":")).encode()

    def send(self, n: int, stamp_ms: int) -> None:
        from binance_data_pipeline_spark.sources.kafka_wire import kafka_produce

        with self.lock:
            by_part: dict[int, list] = {p: [] for p in range(PARTITIONS)}
            for _ in range(n):
                part, value = self._envelope(stamp_ms)
                by_part[part].append((None, value, stamp_ms))
            for part, recs in by_part.items():
                if recs:
                    kafka_produce("127.0.0.1", self.port, self.topic, part, recs)
            self.sent += n

    def run_rate(self, rate: int, seconds: float) -> None:
        """Open loop: every SEND_EVERY_S, the events due in that slot,
        stamped with the slot's scheduled time; never waits on the stream."""
        t0 = time.time()
        for slot in range(int(seconds / SEND_EVERY_S)):
            due = t0 + slot * SEND_EVERY_S
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            self.late_ms.append(max(0.0, (time.time() - due) * 1000))
            n = int((slot + 1) * rate * SEND_EVERY_S) - int(slot * rate * SEND_EVERY_S)
            self.send(n, int(due * 1000))

    def log_end(self) -> int:
        """Records in the topic: the broker's log-end offsets, summed."""
        from binance_data_pipeline_spark.sources.kafka_wire import kafka_list_offsets

        return sum(kafka_list_offsets("127.0.0.1", self.port, self.topic, p)
                   for p in range(PARTITIONS))


def _as_dict(progress) -> dict:
    return json.loads(progress.json) if hasattr(progress, "json") else dict(progress)


def _committed(query) -> int:
    """Broker records the stream has committed, from its last progress."""
    last = query.lastProgress
    if last is None:
        return 0
    total = 0
    for source in _as_dict(last).get("sources", []):
        end = source.get("endOffset") or {}
        end = json.loads(end) if isinstance(end, str) else end
        total += sum(int(v) for v in end.values())
    return total


def _end_ms(progress: dict) -> float:
    start = datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00"))
    return start.timestamp() * 1000 + progress["durationMs"].get("triggerExecution", 0)


def wait_for(ctx, query, gen, what: str, backlog: list | None = None) -> bool:
    """Block until the stream has committed every record ``gen`` sent,
    sampling the backlog (log end - committed) every half second."""
    deadline = time.time() + WAIT_LIMIT_S
    while time.time() < deadline:
        committed = _committed(query)
        if backlog is not None:
            backlog.append(gen.log_end() - committed)
        if committed >= gen.sent:
            return True
        if query.exception() is not None:
            return ctx.check(False, f"{what}: stream failed: {query.exception()}")
        time.sleep(0.5)
    return ctx.check(False, f"{what}: {gen.sent} records not committed in {WAIT_LIMIT_S}s")


def batch_files(out_path: str) -> dict[int, list[str]]:
    """Batch id -> parquet files it committed, from the file sink's
    ``_spark_metadata`` log (compacted entries hold every earlier batch
    too, so only files not seen before belong to a batch)."""
    meta = os.path.join(out_path, "_spark_metadata")
    ids = sorted(int(f.split(".")[0]) for f in os.listdir(meta) if f.split(".")[0].isdigit())
    seen, out = set(), {}
    for bid in ids:
        path = os.path.join(meta, str(bid))
        if not os.path.exists(path):
            path += ".compact"
        with open(path) as f:
            lines = f.read().splitlines()[1:]
        files = [json.loads(ln)["path"].removeprefix("file://") for ln in lines if ln]
        out[bid] = [f for f in files if f not in seen]
        seen.update(files)
    return out


def to_trigger(offset: float, margin: float) -> None:
    """Sleep until ``offset`` seconds from the next trigger at least
    ``margin`` seconds away. Processing-time triggers after the first fire
    on multiples of the interval since the epoch, so phases that start
    relative to a trigger do not drift against it from run to run."""
    now = time.time()
    boundary = (now // TRIGGER_S + 1) * TRIGGER_S
    if boundary - now < margin:
        boundary += TRIGGER_S
    time.sleep(max(0.0, boundary + offset - time.time()))


def stream_once(ctx, spark, broker, topic: str, tracer) -> dict:
    """One full ingest (backlog, catch-up, steady rate, drain) from a new
    topic into fresh directories, then its checks; returns measurements."""
    from binance_data_pipeline_spark.streaming.ingest import (
        read_raw_stream_from_kafka_wire,
        start_bronze_ingest,
    )

    run_dir = ctx.dir(topic)
    out_path = os.path.join(run_dir, "bronze")
    cap = RATE * TRIGGER_S * 4
    gen = Generator(broker.port, topic, ctx.seed)
    gen.send(int(FIRST_BACKLOG * cap), int(time.time() * 1000))
    raw = read_raw_stream_from_kafka_wire(
        spark, f"127.0.0.1:{broker.port}", topic=topic, max_offsets_per_trigger=cap)
    query = start_bronze_ingest(raw, out_path, os.path.join(run_dir, "checkpoint"))
    backlog: list[int] = []
    try:
        with tracer.span("first_batch", "phase"):
            ok = wait_for(ctx, query, gen, "first batch")
        with tracer.span("catchup", "phase"):
            to_trigger(-BURST_LEAD_S, BURST_LEAD_S + 0.2)
            t_burst = time.time()
            burst_first_id = gen.next_id
            gen.send(BURST * cap, int(t_burst * 1000))
            # The burst (BURST = 2 caps) drains in the batches of the next two
            # triggers. The steady phase starts just after the second fires:
            # the cap keeps its events out of that batch.
            to_trigger(RATE_LAG_S, BURST_LEAD_S + 0.2)
        with tracer.span("rate", "phase"):
            rate_first_id = gen.next_id
            producer = threading.Thread(target=gen.run_rate, args=(RATE, ctx.seconds))
            producer.start()
            while producer.is_alive():
                backlog.append(gen.log_end() - _committed(query))
                producer.join(0.5)
            ok = wait_for(ctx, query, gen, "drain", backlog) and ok
    finally:
        query.stop()
    progress = [p for p in map(_as_dict, query.recentProgress) if p.get("numInputRows", 0) > 0]
    log("batches (start, rows, ms): " + ", ".join(
        f"{p['timestamp'][14:23]} {p['numInputRows']} {p['durationMs'].get('triggerExecution')}"
        for p in progress))
    ctx.check(ok, "stream committed every produced record")

    with tracer.span("check", "phase"):
        ends = {p["batchId"]: _end_ms(p) for p in progress}
        ids, lag, burst_end = [], [], 0.0
        for bid, paths in batch_files(out_path).items():
            for path in paths:
                t = pq.read_table(path, columns=["trade_id", "event_time"])
                tids = [int(x) for x in t.column("trade_id").to_pylist()]
                stamps = t.column("event_time").cast(pa.timestamp("ms"), safe=False)
                ids.extend(tids)
                for tid, ms in zip(tids, stamps.cast(pa.int64()).to_pylist()):
                    if tid >= rate_first_id:
                        lag.append(ends[bid] - ms)
                    elif tid >= burst_first_id:
                        burst_end = max(burst_end, ends[bid])
        distinct = len(set(ids))
        ctx.check(len(ids) == gen.trades, f"bronze rows {len(ids)} == trades sent {gen.trades}")
        ctx.check(distinct == len(ids), f"distinct trade_id {distinct} == rows {len(ids)}")
        # every event is an operation: lost and duplicated trades count as failed
        ctx.attempted += gen.sent
        ctx.failed += abs(gen.trades - distinct) + (len(ids) - distinct)

    drain_s = burst_end / 1000 - t_burst
    return {
        "drain_s": drain_s,
        "catchup_ev_s": (rate_first_id - burst_first_id) / drain_s,
        "lag_p50_ms": median(lag),
        "lag_p99_ms": percentile(lag, 99),
        "lag_samples": len(lag),
        "progress": progress,
        "backlog": backlog,
        "generator_late_ms": max(gen.late_ms),
    }


def streaming_layers(m: dict) -> dict:
    prog = m["progress"]
    rows = [p["numInputRows"] for p in prog]

    def dur(key):
        return sum(p["durationMs"].get(key, 0) for p in prog)

    return {
        "streaming.batches": len(prog),
        "streaming.rows_per_batch": median(rows),
        "streaming.trigger_ms": dur("triggerExecution"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.query_planning_ms": dur("queryPlanning"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.processed_ev_s": median([p.get("processedRowsPerSecond", 0) for p in prog]),
        "streaming.catchup_ev_s": m["catchup_ev_s"],
        "sources.get_batch_ms": dur("getBatch"),
        "sources.latest_offset_ms": dur("latestOffset"),
        "sources.backlog_events": median(m["backlog"]),
        "sources.first_batch_rows": rows[0],
        "generator.late_ms": m["generator_late_ms"],
    }


def spark_layers(event_log: dict) -> dict:
    """Totals over every job of the traced session (micro-batch jobs run
    under the stream's own job group, not under the benchmark's spans)."""
    totals: dict = {}
    for g in event_log["groups"].values():
        for k, v in g.items():
            totals[k] = totals.get(k, 0.0) + v
    out = {f"spark.{k}": totals.get(k, 0.0) for k in (
        "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
        "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")}
    out["operators.python_worker_ms"] = totals.get("python_worker_ms", 0.0)
    out["operators.python_bytes_sent"] = totals.get("python_bytes_sent", 0.0)
    return out


def run(ctx):
    from binance_data_pipeline_spark.sources.kafka_wire import MiniKafkaBroker

    live = []

    def start_broker(_spark):
        live.append(MiniKafkaBroker().__enter__())
        return live[-1]

    def stop_broker(broker):
        live.remove(broker)
        broker.__exit__(None, None, None)

    with RssSampler() as rss:
        try:
            spark, broker, setups = set_up(ctx, start_broker, stop_broker)
            m = stream_once(ctx, spark, broker, "trades", NoTracer())
            peak_rss_mb = rss.peak_mb
            log(f"drain {m['drain_s']:.2f}s ({m['catchup_ev_s']:.0f} ev/s), lag p50 "
                f"{m['lag_p50_ms']:.0f} ms p99 {m['lag_p99_ms']:.0f} ms over "
                f"{m['lag_samples']} events, {len(m['progress'])} batches, first batch "
                f"{m['progress'][0]['numInputRows']} rows")
            # The restarts come after the ingest, on a warm JVM; with tracing
            # the last one's session writes the event log for the traced ingest.
            spark, broker, restarts = set_up(ctx, start_broker, stop_broker, RESTARTS,
                                             ctx.trace, previous=(spark, broker))
            setups += restarts
            per_layer, tracer = {}, None
            if ctx.trace:
                tracer = Tracer(spark.sparkContext, f"{ctx.workload}-{ctx.seed}")
                with tracer.span(ctx.workload, "workload"):
                    traced = stream_once(ctx, spark, broker, "trades_traced", tracer)
            spark.stop()
            if ctx.trace:
                per_layer = {**streaming_layers(traced),
                             **spark_layers(load_event_log(ctx.dir("eventlog")))}
                per_layer["setup.cold_s"] = setups[0]
                per_layer["memory.peak_rss_mb"] = peak_rss_mb
                # One ingest per session cannot be paired pass by pass as the
                # batch passes are, so this is the tracer's own measured cost
                # over the traced ingest's wall; the event log is not in it.
                wall = tracer.spans[0]["end"] - tracer.spans[0]["start"]
                per_layer["trace.overhead_pct"] = 100 * tracer.cost_s / wall
        finally:
            for broker in list(live):
                stop_broker(broker)
    end_to_end = {
        "setup_s": setup_s(setups),
        "sweep_s": m["drain_s"],
        "latency_p50_ms": m["lag_p50_ms"],
        "latency_tail_ms": m["lag_p99_ms"],
    }
    return with_units(end_to_end, END_TO_END), with_units(per_layer, PER_LAYER), tracer
