"""Process-parallel full test tier (VERDICT r11 task 7).

The suite is serial and CPU-bound (per-test call time ≈ wall, pinned in
BASELINE.md round 11), so the consolidation lever is process-level
sharding: partition the test MODULES across N pytest worker processes
(pytest-xdist is not in this container), each with its own Spark
session, basetemp, and warehouse dir. Coverage is identical by
construction — every collected module runs exactly once; the merged
summary proves it by summing per-shard pass/fail counts and recording
them per module.

Isolation per worker (the hazards a shared box has):
- ``--basetemp=/tmp/par_suite_w{i}`` — tmp_path trees never collide;
- ``SPARK_WAREHOUSE_DIR=/tmp/par_suite_w{i}_wh`` — any saveAsTable
  writes land in disjoint warehouses (session.py honors it);
- ``SPARK_GRAFT_CPUS`` split so the workers' local[k] threads sum to
  no more than the host's cores, ``session.local_cores``
  (oversubscription measurably slows the CPU-bound kernels);
- ``SPARK_DRIVER_MEMORY`` split so the N heaps sum to no more than the
  heap one session would get on this host (``session.driver_memory``);
  fewer workers run when the host cannot hold N at Spark's minimum heap;
- test servers (kafka wire) bind port 0 — already parallel-safe.

Balancing: greedy LPT over per-module wall times measured by the LAST
run (``scripts/suite_weights.json``, refreshed on every completed run).
A run without the weights file falls back to uniform weights; the next
run is balanced. A module is the partitioning atom, so
module-scoped fixtures never split.

Usage:
    python scripts/par_suite.py [--workers 3] [--log-dir /tmp]
Prints one ``FINAL {json}`` line: total passed/failed, per-shard walls,
and the slowest modules. Exit code 0 iff every shard exits 0.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from binance_data_pipeline_spark import session  # noqa: E402

TESTS = os.path.join(REPO, "tests")
WEIGHTS_PATH = os.path.join(REPO, "scripts", "suite_weights.json")

def load_weights() -> dict[str, float]:
    if os.path.exists(WEIGHTS_PATH):
        with open(WEIGHTS_PATH) as f:
            return json.load(f)
    return {}


_UNIT_MB = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}


def _mb(mem: str) -> int:
    """A ``spark.driver.memory`` value (``3906m``, ``2g``; a bare number
    is MiB) in MiB."""
    s = mem.strip().lower().rstrip("b")
    if s[-1] in _UNIT_MB:
        return int(float(s[:-1]) * _UNIT_MB[s[-1]])
    return int(s)


def worker_sizing(workers: int, cpus_total: int | None = None) -> tuple[int, int, str]:
    """(workers, cores each, heap each) for ``workers`` concurrent pytest
    sessions: the host's cores (``cpus_total`` overrides) and the heap
    budget of one session are split evenly, so the workers together ask
    for no more threads or heap than one session on this host would. The
    worker count drops to what the host holds at one core and Spark's
    minimum heap each."""
    cores = cpus_total or session.local_cores()
    budget_mb = _mb(session.driver_memory())
    n = max(1, min(workers, cores, budget_mb // session.MIN_DRIVER_MEMORY_MB))
    return n, cores // n, f"{budget_mb // n}m"


def partition_modules(mods: list[str], n: int, weights: dict[str, float]):
    """Greedy LPT: heaviest module to the currently-lightest shard."""
    def w(m: str) -> float:
        return weights.get(m) or 30.0

    shards: list[list[str]] = [[] for _ in range(n)]
    loads = [0.0] * n
    for m in sorted(mods, key=w, reverse=True):
        i = loads.index(min(loads))
        shards[i].append(m)
        loads[i] += w(m)
    return shards, loads


_SUMMARY_RE = re.compile(
    r"(?:(\d+) failed)?(?:, )?(?:(\d+) passed)?(?:, )?(?:(\d+) skipped)?"
    r"(?:, )?(?:(\d+) error)?.* in ([0-9.]+)s"
)


def parse_shard_log(path: str):
    """pytest -q summary line + the --durations table → (counts, per-module
    seconds). Per-module = sum of durations lines (call+setup+teardown),
    the same accounting BASELINE.md round 11 used."""
    passed = failed = skipped = errors = 0
    per_module: dict[str, float] = {}
    with open(path, errors="replace") as f:
        for line in f:
            m = re.match(r"([0-9.]+)s\s+(?:call|setup|teardown)\s+tests/([^:]+)::", line)
            if m:
                per_module[m.group(2)] = per_module.get(m.group(2), 0.0) + float(m.group(1))
            if (" passed" in line or " failed" in line or " error" in line) and " in " in line:
                s = _SUMMARY_RE.search(line.strip().strip("="). strip())
                if s:
                    failed = int(s.group(1) or 0)
                    passed = int(s.group(2) or 0)
                    skipped = int(s.group(3) or 0)
                    errors = int(s.group(4) or 0)
    return {"passed": passed, "failed": failed, "skipped": skipped,
            "errors": errors}, per_module


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workers", type=int, default=3)
    ap.add_argument("--log-dir", default="/tmp")
    ap.add_argument("--cpus-total", type=int, default=None)
    args = ap.parse_args()
    n, cpus_each, mem_each = worker_sizing(args.workers, args.cpus_total)

    mods = sorted(
        f for f in os.listdir(TESTS)
        if f.startswith("test_") and f.endswith(".py")
    )
    weights = load_weights()
    shards, loads = partition_modules(mods, n, weights)

    procs, logs = [], []
    t0 = time.time()
    for i, shard in enumerate(shards):
        log = os.path.join(args.log_dir, f"par_suite_w{i}.log")
        logs.append(log)
        base = f"/tmp/par_suite_w{i}"
        shutil.rmtree(base, ignore_errors=True)
        shutil.rmtree(base + "_wh", ignore_errors=True)
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(cpus_each),
            SPARK_DRIVER_MEMORY=mem_each,
            SPARK_WAREHOUSE_DIR=base + "_wh",
            BDP_FULL_SUITE="1",  # the full gate runs the slow tier too
        )
        cmd = [sys.executable, "-m", "pytest", "-q", "-p", "no:cacheprovider",
               "--durations=0", f"--basetemp={base}",
               ] + [os.path.join("tests", m) for m in shard]
        print(f"shard {i}: {len(shard)} modules, est {loads[i]:.0f}s -> {log}",
              flush=True)
        procs.append(subprocess.Popen(
            cmd, cwd=REPO, env=env,
            stdout=open(log, "w"), stderr=subprocess.STDOUT,
        ))
    rcs = [p.wait() for p in procs]
    wall = time.time() - t0

    totals = {"passed": 0, "failed": 0, "skipped": 0, "errors": 0}
    measured: dict[str, float] = {}
    shard_walls = []
    for i, log in enumerate(logs):
        counts, per_module = parse_shard_log(log)
        for k in totals:
            totals[k] += counts[k]
        measured.update(per_module)
        shard_walls.append(round(sum(per_module.values()), 1))
    # refresh weights only from a fully-green run (a crashed shard would
    # otherwise poison the balance with partial sums)
    if all(rc == 0 for rc in rcs) and totals["failed"] == 0 and totals["errors"] == 0:
        with open(WEIGHTS_PATH, "w") as f:
            json.dump({k: round(v, 2) for k, v in sorted(measured.items())}, f, indent=1)
    slowest = dict(sorted(measured.items(), key=lambda kv: -kv[1])[:8])
    print("FINAL " + json.dumps({
        "workers": n, "cpus_each": cpus_each, "wall_sec": round(wall, 1),
        "shard_rcs": rcs, "shard_call_sums": shard_walls, **totals,
        "modules": len(mods),
        "slowest_modules": {k: round(v, 1) for k, v in slowest.items()},
    }), flush=True)
    return 0 if all(rc == 0 for rc in rcs) else 1


if __name__ == "__main__":
    sys.exit(main())
