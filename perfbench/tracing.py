"""Spans, layer wrappers and the Spark event-log reader of the traced run.

A span is one dict ``{trace, id, parent, name, kind, start, end}`` with
epoch-second times, kept in memory and written out as JSON lines when the
run ends. While a span is open it owns the Spark job group, so every job
in the event log is attributed to the innermost span that caused it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

# SQL-metric names of the Python-worker boundary (mapInPandas,
# applyInPandas, Arrow UDFs, Python data sources).
PY_TIME_METRIC = "time to run Python workers"
PY_SENT_METRIC = "data sent to Python workers"


class Tracer:
    """Records spans; each open span sets the Spark job group to its id."""

    def __init__(self, sc, trace_id: str):
        self.sc = sc
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        #: Seconds spent in the tracer's own bookkeeping (opening and
        #: closing spans, job-group calls included).
        self.cost_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, kind: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {
            "trace": self.trace_id,
            "id": f"{self.trace_id}.{len(self.spans)}",
            "parent": parent["id"] if parent else None,
            "name": name,
            "kind": kind,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        self.cost_s += time.perf_counter() - t0
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.cost_s += time.perf_counter() - t1

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


class NoTracer:
    """Stand-in for the timed run: spans cost one no-op context manager."""

    spans: list[dict] = []

    def span(self, name: str, kind: str):
        return contextlib.nullcontext()


def union_s(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span id -> its duration minus the part its child spans cover."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_s((max(a, s["start"]), min(b, s["end"])) for a, b in children[s["id"]])
        for s in spans
    }


def descendants(spans: list[dict], root_id: str) -> set[str]:
    """Ids of ``root_id`` and every span below it."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s["id"])
    out, todo = set(), [root_id]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(kids[sid])
    return out


@contextlib.contextmanager
def wrapped_layers(tracer, counters: dict):
    """Route the program's ``catalog.load_table`` and
    ``lifecycle.release_barriers`` through spans for the life of the block.

    The plans modules import ``load_table`` by name, so the bound name is
    replaced in each of them; the originals are restored on exit.
    """
    from binance_data_pipeline_spark import catalog, lifecycle
    from binance_data_pipeline_spark import plans

    original_load = catalog.load_table

    def load_table(spark, sf_dir, name):
        counters["load_table_calls"] += 1
        with tracer.span(f"load_table:{name}", "catalog.load_table"):
            return original_load(spark, sf_dir, name)

    modules = [
        getattr(plans, m) for m in dir(plans)
        if getattr(getattr(plans, m), "load_table", None) is original_load
    ]
    for mod in modules:
        mod.load_table = load_table
    try:
        yield lifecycle.release_barriers
    finally:
        for mod in modules:
            mod.load_table = original_load


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


def event_log_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir``: rolling ``eventlog_v2_*/events_*``
    parts in order, or plain single-file logs."""
    files = []
    for d in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        parts = glob.glob(os.path.join(d, "events_*"))
        files.extend(sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1])))
    files.extend(
        p for p in sorted(glob.glob(os.path.join(log_dir, "*")))
        if os.path.isfile(p) and not p.endswith(".inprogress")
    )
    return files


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(lines) -> dict:
    """Per-job-group totals from Spark event-log JSON lines.

    Task metrics come from each ``TaskEnd`` and are summed. SQL-metric
    accumulables in ``StageCompleted`` carry the accumulator's running
    total, so a metric updated by several stages appears once per stage
    with a growing value: only the last value seen for each accumulator id
    counts, attributed to the group of the stage that reported it. Summing
    across stages would count earlier stages again.
    """
    job_group: dict[int, str | None] = {}
    job_span: dict[int, list[float]] = {}
    stage_job: dict[int, int] = {}
    groups: dict = defaultdict(lambda: defaultdict(float))
    acc_final: dict[int, tuple[str, str | None, float]] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            job_group[jid] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            job_span[jid] = [ev["Submission Time"] / 1000.0, None]
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
            groups[job_group[jid]]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in job_span:
                job_span[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = job_group.get(stage_job.get(info["Stage ID"]))
            groups[group]["stages"] += 1
            for acc in info.get("Accumulables", []):
                name = acc.get("Name")
                if name in (PY_TIME_METRIC, PY_SENT_METRIC):
                    acc_final[acc["ID"]] = (name, group, _num(acc.get("Value")))
        elif kind == "SparkListenerTaskEnd":
            group = job_group.get(stage_job.get(ev["Stage ID"]))
            m = ev.get("Task Metrics") or {}
            g = groups[group]
            g["tasks"] += 1
            g["executor_run_ms"] += _num(m.get("Executor Run Time"))
            g["executor_cpu_ms"] += _num(m.get("Executor CPU Time")) / 1e6
            g["gc_ms"] += _num(m.get("JVM GC Time"))
            g["input_bytes"] += _num((m.get("Input Metrics") or {}).get("Bytes Read"))
            sr = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read_bytes"] += _num(sr.get("Remote Bytes Read")) + _num(
                sr.get("Local Bytes Read"))
            g["shuffle_write_bytes"] += _num(
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written"))
            g["spill_bytes"] += _num(m.get("Memory Bytes Spilled")) + _num(
                m.get("Disk Bytes Spilled"))
    for name, group, value in acc_final.values():
        key = "python_worker_ms" if name == PY_TIME_METRIC else "python_bytes_sent"
        groups[group][key] += value
    spans = defaultdict(list)
    for jid, (start, end) in job_span.items():
        spans[job_group[jid]].append((start, end if end is not None else start))
    return {"groups": groups, "job_spans": spans}


def load_event_log(log_dir: str) -> dict:
    def lines():
        for path in event_log_files(log_dir):
            with open(path) as f:
                yield from (ln for ln in f if ln.strip())

    return read_event_log(lines())
