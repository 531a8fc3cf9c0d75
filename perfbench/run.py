#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload medallion_batch --seed 1 --seconds 10 --trace 0

Runs one workload from the checkout root, checks its outputs, and prints
one JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones of a run with tracing off; with
``--trace 1`` the same workload runs both untraced and traced, and the
metrics are the per-layer ones of the traced part. Progress goes to
standard error. See perfbench/README.md for the workloads and metrics.

The input tables are the seeded test tables in ``perfbench/data/sf<scale>``.
Every run keeps its state (TMPDIR, Spark local dirs, warehouse, stream
checkpoints) in a fresh directory under ``.perfbench/`` of the checkout
and deletes it at exit; traced runs leave their spans in
``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

from common import Context, log, stop_jvm

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Workload name -> module in this directory exposing ``run(ctx)``.
WORKLOADS = {
    "medallion_batch": "batch",
    "corpus_kernels": "batch",
    "bronze_ingest": "bronze",
}


def isolate(state: str) -> None:
    """Point every temporary location of Python, the JVM and Spark into
    ``state`` before the first Spark import."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(state, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(state, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(state, "local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(state, "warehouse")
    # -XX:-UsePerfData: no hsperfdata files in the system temp dir.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "")
        + f" -Djava.io.tmpdir={os.path.join(state, 'tmp')} -XX:-UsePerfData"
    ).strip()
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    import tempfile

    tempfile.tempdir = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="0.01", choices=("0.01", "0.001"),
                    help="scale factor of the input tables")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "binance_data_pipeline_spark")):
        log(f"no binance_data_pipeline_spark package under {ROOT}: "
            "run from the root of a checkout of the program")
        return 2

    base = os.path.join(ROOT, ".perfbench")
    state = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace),
                  state, os.path.join(HERE, "data", f"sf{args.sf}"))
    isolate(state)
    sys.path.insert(0, ROOT)
    try:
        import importlib

        module = importlib.import_module(WORKLOADS[args.workload])
        end_to_end, per_layer, tracer = module.run(ctx)
        if tracer is not None:
            tracer.write(os.path.join(
                base, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        stop_jvm()
        shutil.rmtree(state, ignore_errors=True)
    metrics = per_layer if ctx.trace else end_to_end
    if ctx.problems:
        log(f"{len(ctx.problems)} problem(s): {ctx.problems[:5]}")
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": max(ctx.attempted, 1),
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
