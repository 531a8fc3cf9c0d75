"""One-command round close: pin all four verification axes and emit a
single JSON artifact (VERDICT r9 task 3).

Axes:
  1. full-suite summary   — parsed from an existing pytest log
                            (--suite-log; the ~105-min run happens in
                            the background during the round) plus a
                            fresh `-m smoke` tier run here (--run-smoke)
  2. sf0.1 oracle catalog — scripts/oracle_sf01.py (45/45 expected)
  3. recall at 100x       — scripts/scale_smoke.py --mult 100
                            --families ivf_build,lsh_build,ivfpq_build,recall_at_scale
                            (floors mirror plans/northstar)
  4. bench                — bench.py run --bench-passes times (default
                            2): raw totals and the per-query min over
                            the passes

Usage:
    python scripts/round_close.py --round 10 \
        [--suite-log /tmp/full_suite.log] [--run-smoke] [--skip-recall]

Writes ROUND_CLOSE_r{N}.json at the repo root and prints it. Exit code
0 iff every executed axis passed (suite log green, oracle 45/45,
recalls above floors, bench emitted).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(cmd: list[str], timeout: int) -> tuple[int, str]:
    p = subprocess.run(
        cmd, cwd=REPO, capture_output=True, text=True, timeout=timeout
    )
    return p.returncode, p.stdout + p.stderr


def _last_json_line(text: str, prefix: str = "") -> dict | None:
    """Last parseable JSON line; with a prefix, ONLY prefixed lines count
    (a stray '{...}' log line after the marker must not be mistaken for
    the result — ADVICE r10)."""
    for line in reversed(text.splitlines()):
        line = line.strip()
        if prefix:
            if not line.startswith(prefix):
                continue
            line = line[len(prefix):].strip()
        if line.startswith("{"):
            try:
                return json.loads(line)
            except json.JSONDecodeError:
                continue
    return None


_SUMMARY_RE = re.compile(
    # pytest's final summary line: '=== N passed ... ===' in normal mode,
    # bare 'N passed[, M failed...] in 12.3s' under -q — anchored to the
    # WHOLE line shape either way, so incidental strings like '0 errors
    # detected' in a log tail can't flip the verdict (ADVICE r10)
    r"^(=+ )?\d+ (passed|failed|error|errors|skipped|xfailed|xpassed)"
    r"(, \d+ \w+)* in [\d.]+s( \([0-9:]+\))?( =+)?\s*$"
)


def _pytest_summary(text: str) -> dict | None:
    """Parse counts from pytest's own summary line only (see _SUMMARY_RE)."""
    for line in reversed(text.splitlines()):
        if _SUMMARY_RE.match(line):
            def _n(word: str) -> int:
                m = re.search(rf"(\d+) {word}", line)
                return int(m.group(1)) if m else 0
            return {
                "passed": _n("passed"),
                "failed": _n("failed"),
                "skipped": _n("skipped"),
                "errors": _n("errors?"),
            }
    return None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--suite-log", default=None,
                    help="path to a completed full-suite pytest log")
    ap.add_argument("--run-smoke", action="store_true",
                    help="also run the `-m smoke` tier here and time it")
    ap.add_argument("--skip-recall", action="store_true",
                    help="skip the 100x recall smoke (records skipped)")
    ap.add_argument("--bench-passes", type=int, default=2)
    args = ap.parse_args()

    out: dict = {"round": args.round, "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                                          time.gmtime())}
    ok = True

    # ---- axis 1: suite ----------------------------------------------------
    # Accepts either a serial pytest log or scripts/par_suite.py output
    # (its FINAL line carries merged pass/fail counts + wall).
    if args.suite_log and os.path.exists(args.suite_log):
        text = open(args.suite_log).read()
        par = _last_json_line(text, prefix="FINAL")
        if par and "shard_rcs" in par:
            counts = {k: par.get(k, 0)
                      for k in ("passed", "failed", "skipped", "errors")}
            counts["wall_sec"] = par.get("wall_sec")
            counts["workers"] = par.get("workers")
            ok_shards = all(rc == 0 for rc in par.get("shard_rcs", [1]))
        else:
            counts = _pytest_summary(text[-4000:])
            ok_shards = True
        out["suite"] = {**(counts or {"passed": 0, "failed": 0,
                                      "skipped": 0, "errors": 0}),
                        "log": args.suite_log}
        if (not counts or not counts["passed"] or counts["failed"]
                or counts["errors"] or not ok_shards):
            ok = False
    else:
        out["suite"] = "no_log"
        ok = False

    if args.run_smoke:
        t0 = time.time()
        rc, text = _run(
            [sys.executable, "-m", "pytest", "tests/", "-m", "smoke", "-q",
             "-p", "no:cacheprovider"],
            timeout=2400,
        )
        counts = _pytest_summary(text[-2000:])
        out["smoke_tier"] = {
            "rc": rc,
            "passed": counts["passed"] if counts else 0,
            "wall_sec": round(time.time() - t0, 1),
        }
        if rc != 0:
            ok = False

    # ---- axis 2: sf0.1 oracle ---------------------------------------------
    rc, text = _run([sys.executable, "scripts/oracle_sf01.py"], timeout=1800)
    j = _last_json_line(text)
    out["oracle_sf01"] = j or {"rc": rc, "parse": "failed"}
    if rc != 0 or not j or j.get("failed"):
        ok = False

    # ---- axis 3: recall at 100x -------------------------------------------
    if args.skip_recall:
        out["recall_100x"] = "skipped"
    else:
        rc, text = _run(
            [sys.executable, "scripts/scale_smoke.py", "--mult", "100",
             "--families", "ivf_build,lsh_build,ivfpq_build,recall_at_scale"],
            timeout=5400,
        )
        j = _last_json_line(text, prefix="FINAL")
        rec = (j or {}).get("recall_at_scale", {})
        floors_ok = bool(rec) and all(
            v.get("recall", 0.0) >= v.get("floor", 1.0)
            for v in rec.values() if isinstance(v, dict) and "recall" in v
        )
        out["recall_100x"] = {
            "rc": rc,
            "recalls": {k: v for k, v in rec.items() if isinstance(v, dict)},
            "floors_ok": floors_ok,
        }
        if rc != 0 or not floors_ok:
            ok = False

    # ---- axis 4: bench ---------------------------------------------------
    samples = []
    for _ in range(args.bench_passes):
        rc, text = _run([sys.executable, "bench.py"], timeout=1800)
        j = _last_json_line(text)
        if rc != 0 or not j:
            ok = False
            break
        samples.append(j)
    if samples:
        qmin = {
            q: min(s["queries"][q] for s in samples)
            for q in samples[0]["queries"]
        }
        out["bench"] = {
            "passes": len(samples),
            "pairwise_min_total_sec": round(sum(qmin.values()), 3),
            "raw_totals": [s.get("value") for s in samples],
            "queries_min": qmin,
        }

    out["all_green"] = ok
    path = os.path.join(REPO, f"ROUND_CLOSE_r{args.round:02d}.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))
    print(f"wrote {path}")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
