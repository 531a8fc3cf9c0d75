#!/usr/bin/env python3
"""Self-test of the benchmark: every workload at sf0.001 with a short rate
phase, untraced and traced.

    python3 perfbench/selftest.py

For each run it checks the result line (exact keys, correct, nothing
failed), that every metric of BENCHMARK.json is printed with its unit, and
for traced runs that the spans left in ``.perfbench/traces/`` nest: each
query's self times (its own and its descendants') add up to its wall, and
the queries of a pass fit inside the pass. Takes several minutes: each run
starts its own JVM and warms it with the check pass.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from metrics import CORPUS, END_TO_END, PER_LAYER  # noqa: E402
from tracing import descendants, self_times  # noqa: E402

SEED = 7
SECONDS = 3


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", str(SECONDS), "--trace", str(trace),
           "--sf", "0.001"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise SystemExit(f"{workload} trace={trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_result(workload: str, trace: int, result: dict, units: dict) -> list[str]:
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"keys {sorted(result)}")
    if not result.get("correct") or result.get("failed") or result.get("attempted", 0) < 1:
        problems.append(f"correct={result.get('correct')} failed={result.get('failed')}")
    metrics = result.get("metrics", {})
    for name, unit in units.items():
        got = metrics.get(name)
        if got is None or got.get("unit") != unit or not isinstance(got.get("value"), float):
            problems.append(f"metric {name}: {got}")
    return [f"{workload} trace={trace}: {p}" for p in problems]


def check_spans(workload: str) -> list[str]:
    path = os.path.join(ROOT, ".perfbench", "traces", f"{workload}-seed{SEED}.jsonl")
    with open(path) as f:
        spans = [json.loads(line) for line in f]
    if len({s["trace"] for s in spans}) != 1:
        return [f"{workload}: spans carry more than one trace id"]
    st, by_id, problems = self_times(spans), {s["id"]: s for s in spans}, []
    for s in spans:
        parent = by_id.get(s["parent"])
        if parent and not parent["start"] <= s["start"] <= s["end"] <= parent["end"]:
            problems.append(f"{workload}: span {s['name']} outside its parent")
        if s["kind"] == "query":
            wall = s["end"] - s["start"]
            total = sum(st[i] for i in descendants(spans, s["id"]))
            if abs(total - wall) > 1e-6:
                problems.append(f"{workload}: {s['name']} self times {total} != wall {wall}")
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    if {m["name"]: m["unit"] for m in bench["end_to_end"]} != END_TO_END:
        problems.append("BENCHMARK.json end_to_end differs from metrics.END_TO_END")
    if {m["name"]: m["unit"] for m in bench["per_layer"]} != PER_LAYER:
        problems.append("BENCHMARK.json per_layer differs from metrics.PER_LAYER")
    workloads = [w["name"] for w in bench["workloads"]] + ["corpus_kernels"]
    for workload in workloads:
        for trace in (0, 1):
            units = dict(PER_LAYER if trace else END_TO_END)
            if trace and workload == "corpus_kernels":
                units.update({f"query.{n}.wall_s": "s" for n in CORPUS})
            result = run(workload, trace)
            problems += check_result(workload, trace, result, units)
            print(f"{workload} trace={trace}: attempted {result['attempted']}", flush=True)
        problems += check_spans(workload)
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
