"""scripts/par_suite.py splits the host among its pytest workers: their
threads and heaps, summed, stay within what one session gets on the
same host. Sizing only; no worker is started."""

from __future__ import annotations

import importlib.util
import os

import pytest

from binance_data_pipeline_spark import session

_spec = importlib.util.spec_from_file_location(
    "par_suite",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "scripts", "par_suite.py"),
)
par_suite = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(par_suite)


def _host(monkeypatch, tmp_path, cpus: int, available_kb: int) -> None:
    for var in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: set(range(cpus)))
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(f"MemTotal: 99999999 kB\nMemAvailable: {available_kb} kB\n")
    monkeypatch.setattr(session, "MEMINFO", str(meminfo))


@pytest.mark.parametrize("available_kb", [1_500_000, 6_000_000, 15 * 2**20, 120 * 2**20],
                         ids=lambda kb: f"{kb >> 10}MiB_available")
def test_three_workers_fit_a_four_cpu_host(monkeypatch, tmp_path, available_kb):
    _host(monkeypatch, tmp_path, 4, available_kb)
    budget_mb = par_suite._mb(session.driver_memory())
    n, cores_each, mem_each = par_suite.worker_sizing(3)
    assert 1 <= n <= 3
    assert n * cores_each <= 4
    assert n * par_suite._mb(mem_each) <= budget_mb
    assert par_suite._mb(mem_each) >= session.MIN_DRIVER_MEMORY_MB


def test_overrides_split_the_same_way(monkeypatch, tmp_path):
    _host(monkeypatch, tmp_path, 4, 15 * 2**20)
    # --cpus-total replaces the host's cores
    assert par_suite.worker_sizing(3, cpus_total=12)[:2] == (3, 4)
    # SPARK_DRIVER_MEMORY is the one-session budget the workers share
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "6g")
    assert par_suite.worker_sizing(3) == (3, 1, "2048m")
