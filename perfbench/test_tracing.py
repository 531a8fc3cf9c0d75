"""Unit tests of the event-log reader and span arithmetic.

    python3 -m pytest perfbench/test_tracing.py -q

``fixtures/eventlog_take_then_agg.jsonl`` is a recorded Spark 4 event log,
trimmed to the events and fields the reader uses. Job group ``q-take``
ran ``mapInPandas(...).take(500)`` over 8 partitions: ``take`` scans one
partition in job 0 and more in job 1, both over the same physical plan, so
the Python-worker SQL metrics of that plan appear in two
``StageCompleted`` events with running totals (1831 then 3143 ms to run
Python workers). Job group ``q-agg`` ran a two-stage aggregation.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tracing import read_event_log, self_times, union_s  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "fixtures", "eventlog_take_then_agg.jsonl")


def _log():
    with open(FIXTURE) as f:
        return read_event_log(f)


def test_sql_metric_takes_final_value_per_accumulator():
    take = _log()["groups"]["q-take"]
    assert take["python_worker_ms"] == 3143  # not 1831 + 3143
    assert take["python_bytes_sent"] == 5040  # not 1008 + 5040


def test_sql_metric_fixture_really_repeats_the_accumulator():
    seen = {}
    with open(FIXTURE) as f:
        for line in f:
            ev = json.loads(line)
            if ev["Event"] == "SparkListenerStageCompleted":
                for acc in ev["Stage Info"]["Accumulables"]:
                    if acc["Name"] == "time to run Python workers":
                        seen.setdefault(acc["ID"], []).append(int(acc["Value"]))
    assert list(seen.values()) == [[1831, 3143]]


def test_jobs_stages_and_tasks_attributed_by_job_group():
    log = _log()
    take, agg = log["groups"]["q-take"], log["groups"]["q-agg"]
    assert (take["jobs"], take["stages"]) == (2, 2)
    assert (agg["jobs"], agg["stages"]) == (2, 2)
    assert take["tasks"] + agg["tasks"] == 8
    assert agg["shuffle_write_bytes"] > 0 and agg["shuffle_read_bytes"] > 0
    assert take["shuffle_write_bytes"] == 0
    assert all(end >= start for start, end in log["job_spans"]["q-take"])


def test_union_merges_overlaps():
    assert union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_s([]) == 0


def test_self_times_sum_to_root_wall():
    spans = [
        {"id": "q", "parent": None, "start": 0.0, "end": 10.0},
        {"id": "c", "parent": "q", "start": 0.0, "end": 4.0},
        {"id": "l", "parent": "c", "start": 1.0, "end": 2.5},
        {"id": "a", "parent": "q", "start": 4.0, "end": 9.0},
    ]
    st = self_times(spans)
    assert st == {"q": 1.0, "c": 2.5, "l": 1.5, "a": 5.0}
    assert sum(st.values()) == 10.0
