"""Run context, session start and small helpers shared by the workloads."""

from __future__ import annotations

import math
import os
import sys
import threading
import time
from dataclasses import dataclass, field

#: Session restarts per run of medallion_batch and bronze_ingest, made in
#: the running JVM once it is warm. ``setup_s`` is their median, so one
#: restart that the host delays moves it little.
RESTARTS = 12


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    v = sorted(values)
    if not v:
        return float("nan")
    k = (len(v) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def median(values) -> float:
    return percentile(values, 50)


def setup_s(walls) -> float:
    """``setup_s`` from the walls of a run's set-ups, the first of which
    launched the JVM: the median of the restarts that followed, or the one
    set-up if there was only one."""
    return median(walls[1:] or walls)


@dataclass
class Context:
    """One run: its arguments, its private state directory, and the
    attempted/failed tally every check and operation adds to."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    state: str
    #: Directory of the input tables, one ``<name>.parquet`` each.
    data: str
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)

    def dir(self, *parts: str) -> str:
        """A directory under the run's private state, created if absent."""
        p = os.path.join(self.state, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)
            log(f"FAILED: {what}")
        return ok


def _proc_state(pid: int) -> tuple[str, int] | None:
    """(state letter, parent pid) of a live process, None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            state, ppid = f.read().rsplit(")", 1)[1].split()[:2]
        return state, int(ppid)
    except (OSError, IndexError, ValueError):
        return None


def _running(pid: int) -> bool:
    """Whether ``pid`` still exists and has not exited (zombies have)."""
    st = _proc_state(pid)
    return st is not None and st[0] != "Z"


def descendants() -> list[int]:
    """Pids of every process below this one: the Spark driver JVM, its
    launcher and the Python workers the JVM forks."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_state(int(name))
            if st is not None:
                kids.setdefault(st[1], []).append(int(name))
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


class RssSampler:
    """Peak resident memory (MB) of this process's descendants - the
    Spark driver JVM and the Python workers it forks - sampled from
    /proc every ``interval`` seconds while running."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> float:
        total_kb = 0
        for pid in descendants():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total_kb += int(line.split()[1])
                            break
            except OSError:
                continue
        mb = total_kb / 1024.0
        self.peak_mb = max(self.peak_mb, mb)
        return mb

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def start_session(ctx: "Context", event_log: bool = False):
    """The program's session (``session.get_spark``) with its shipped
    defaults; the benchmark only turns the console progress bar off and,
    for the traced part, Spark's event log on."""
    from binance_data_pipeline_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + ctx.dir("eventlog"),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(f"perfbench-{ctx.workload}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def set_up(ctx: "Context", build=None, release=None, count: int = 1,
           event_log: bool = False, previous=None):
    """Set the workload up ``count`` times and keep the last set-up.

    One set-up is the program's session start (``start_session``) plus
    ``build(spark)``, the workload's build-once artifacts or its broker.
    ``previous`` is the ``(spark, built)`` of an earlier set-up; without it
    the first set-up launches the JVM. Before each set-up, an earlier one is
    torn down: ``release(built)``, then its session stops (the JVM keeps
    running). With ``event_log`` the last session, the one the run keeps,
    writes Spark's event log. Returns the session, what the last ``build``
    returned, and the wall of every set-up in seconds.
    """
    spark, built = previous or (None, None)
    walls = []
    for i in range(count):
        if spark is not None:
            if release is not None:
                release(built)
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(ctx, event_log and i == count - 1)
        built = build(spark) if build is not None else None
        walls.append(time.perf_counter() - t0)
    log("set-ups: " + ", ".join(f"{w:.3f}s" for w in walls))
    return spark, built, walls


def stop_jvm(timeout: float = 60.0) -> None:
    """Stop the active session and the JVM PySpark launched, and wait
    until every process this run started (the JVM and the Python workers
    it forked) has exited."""
    from pyspark import SparkContext

    pids = descendants()
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        # The gateway JVM exits when its stdin closes.
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=timeout)
        gateway.close()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + timeout
    while time.time() < deadline:
        alive = [p for p in pids if _running(p)]
        if not alive:
            return
        time.sleep(0.1)
    log(f"processes still running after {timeout:.0f}s: {alive}")
