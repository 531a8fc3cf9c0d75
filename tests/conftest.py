from __future__ import annotations

import os

import pytest

from binance_data_pipeline_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"

# ---- slow tier (VERDICT r12 task 1) -----------------------------------------
# Plain `pytest tests/` is the FAST tier: it must complete inside the
# driver's single-process verification window (the r12 full suite no
# longer did — cut off at ~55% with zero failures). Deselected by
# default: the redundancy tiers below (differential fuzz, window
# differentials, model-based sequences, scale smokes, crash-injection
# models) plus every test that measured >= 6 s in the round-13 4-worker
# full run (frozen in slow_tests.txt; oracle-parity and plan-pin modules
# are exempt — they are the correctness gate and always run). The FULL
# tier still runs everything: scripts/par_suite.py sets BDP_FULL_SUITE=1,
# and any explicit -m expression (e.g. `-m slow`, `-m smoke`) disables
# the deselection so marker runs see the whole collection.

_SLOW_MODULES = {
    "test_differential_fuzz.py",
    "test_differential_windows.py",
    "test_manifest_model.py",
    "test_scale.py",
    "test_crash_windows.py",
}


def _slow_nodeids() -> set[str]:
    path = os.path.join(os.path.dirname(__file__), "slow_tests.txt")
    try:
        with open(path) as f:
            return {
                ln.strip() for ln in f
                if ln.strip() and not ln.startswith("#")
            }
    except OSError:
        return set()

# ---- smoke tier (`pytest -m smoke`) -----------------------------------------
# One representative test per operator-family module plus the FULL oracle
# catalog and the plan-pin suite, so a ~15-minute run still pins every
# oracle query and one behavior per family. Selection is centralized here
# (not scattered pytestmark lines): every module contributes its
# alphabetically-FIRST collected test by default (order-independent, so
# -p xdist / random collection order can't change the tier); modules
# below override that. NOTE (ADVICE r10): the representative is chosen
# among COLLECTED items — `-m smoke` is only meaningful over the full
# tests/ directory; running it on a file subset or under -k picks the
# representative within that subset by design.

# every test in these modules is smoke (the correctness gate itself)
_SMOKE_ALL = {
    "test_oracle_parity.py",   # all catalog queries vs DuckDB
    "test_plans.py",           # plan-shape pins (fast, catalog-wide)
}

# module -> explicit test-name prefix to use instead of the first test
# (None = contribute nothing; family covered by a sibling module)
_SMOKE_OVERRIDE: dict[str, str | None] = {
    "test_manifest_model.py": None,   # model-based format differential is
                                      # minutes/seed; manifest family is
                                      # smoked by test_manifest_log.py
}


def pytest_collection_modifyitems(config, items):
    rep_by_module: dict[str, object] = {}

    def _offer(fname: str, item) -> None:
        # alphabetically-first nodeid wins: deterministic regardless of
        # collection order (ADVICE r10)
        cur = rep_by_module.get(fname)
        if cur is None or item.nodeid < cur.nodeid:
            rep_by_module[fname] = item

    slow_ids = _slow_nodeids()
    slow_items = []
    for item in items:
        fname = item.fspath.basename
        if fname in _SLOW_MODULES or item.nodeid in slow_ids:
            item.add_marker(pytest.mark.slow)
            slow_items.append(item)
        if fname in _SMOKE_ALL:
            item.add_marker(pytest.mark.smoke)
            continue
        if fname in _SMOKE_OVERRIDE:
            want = _SMOKE_OVERRIDE[fname]
            if want is not None and item.name.startswith(want):
                _offer(fname, item)
            continue
        _offer(fname, item)
    for item in rep_by_module.values():
        item.add_marker(pytest.mark.smoke)

    run_all = (
        os.environ.get("BDP_FULL_SUITE", "") == "1"
        or bool(config.getoption("-m"))
    )
    if not run_all and slow_items:
        slow_set = set(slow_items)
        keep = [it for it in items if it not in slow_set]
        config.hook.pytest_deselected(items=slow_items)
        items[:] = keep


@pytest.fixture(scope="session")
def spark():
    s = get_spark("bdp-tests", shuffle_partitions=8)
    yield s
    s.stop()
