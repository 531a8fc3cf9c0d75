"""Mergeable quantile sketch rollup (operators/quantiles.py).

Extension — the reference's dbt marts carry only additive SUMs
(dbt_project/models/marts/agg_revenue_daily.sql), so any percentile query
rescans raw; this operator family stores mergeable per-bucket sketch state
instead, the same posture as the HLL/CMS rollups (test_sketches.py).
"""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import numpy as np
import pytest
from pyspark.sql import functions as F

from binance_data_pipeline_spark.operators.quantiles import (
    quantile_estimate,
    quantile_rollup,
    sketch_build,
    sketch_merge,
    sketch_quantiles,
)


# ----------------------------------------------------------- pure kernel

def _rank_error(values, est, q):
    """|rank(est) - q·n| / n of an estimate within the true value list."""
    vs = np.sort(np.asarray(values, dtype=float))
    rank = np.searchsorted(vs, est, side="right")
    return abs(rank - q * len(vs)) / len(vs)


def test_sketch_quantiles_within_rank_error():
    rng = np.random.default_rng(42)
    values = rng.lognormal(0.0, 2.0, size=100_000)
    sk = sketch_build(values, k=256)
    assert sk["n"] == 100_000
    for q in (0.01, 0.25, 0.5, 0.9, 0.99):
        (est,) = sketch_quantiles(sk, [q])
        # MRL bound ≈ log2(n/k)/(2k) ≈ 1.7% here; assert a loose 4%
        assert _rank_error(values, est, q) <= 0.04, q


def test_sketch_merge_equivalent_to_direct_build():
    """Merging sketches of 8 shards answers within the same error bound as
    one sketch over everything — the mergeability contract."""
    rng = np.random.default_rng(7)
    shards = [rng.normal(100.0, 15.0, size=12_500) for _ in range(8)]
    merged = sketch_build(shards[0], k=256)
    for s in shards[1:]:
        merged = sketch_merge(merged, sketch_build(s, k=256))
    allv = np.concatenate(shards)
    assert merged["n"] == len(allv)
    for q in (0.1, 0.5, 0.95):
        (est,) = sketch_quantiles(merged, [q])
        assert _rank_error(allv, est, q) <= 0.04, q


def test_sketch_exact_when_small():
    """n ≤ k never compacts: quantiles are exact order statistics."""
    values = list(range(100))
    sk = sketch_build(values, k=256)
    assert sketch_quantiles(sk, [0.0, 0.5, 1.0]) == [0.0, 50.0, 99.0]


def test_sketch_null_and_empty_handling():
    sk = sketch_build([None, float("nan"), 1.0, 2.0], k=16)
    assert sk["n"] == 2
    assert sketch_quantiles(sketch_build([], k=16), [0.5]) == [None]


def test_sketch_merge_rejects_mixed_k():
    with pytest.raises(ValueError, match="k="):
        sketch_merge(sketch_build([1.0], k=16), sketch_build([1.0], k=32))


def test_sketch_space_stays_logarithmic():
    """1M values at k=256 must keep KB-scale state (the whole point)."""
    rng = np.random.default_rng(1)
    sk = sketch_build(rng.uniform(size=1_000_000), k=256)
    held = sum(len(lvl) for lvl in sk["levels"])
    assert held <= 256 * (len(sk["levels"]) + 1)
    assert len(sk["levels"]) <= 14  # ~log2(n/k) + slack


# ----------------------------------------------------------- spark wiring

def test_quantile_rollup_and_estimate(spark):
    rng = np.random.default_rng(5)
    rows = [
        (f"s{i % 4}", f"2024-06-{1 + i % 3:02d}", float(v))
        for i, v in enumerate(rng.gamma(2.0, 10.0, size=40_000))
    ]
    df = spark.createDataFrame(rows, "symbol string, day string, value double")
    rollup = quantile_rollup(df, ["symbol", "day"], "value", k=256)
    stored = rollup.collect()
    assert len(stored) == 12  # 4 symbols × 3 days
    assert all(len(bytes(r["qsketch"])) < 64_000 for r in stored)
    assert sum(r["n_rows"] for r in stored) == 40_000

    # coarser grain WITHOUT rescanning raw: per-symbol p50/p95 from sketches
    est = {
        r["symbol"]: r
        for r in quantile_estimate(rollup, ["symbol"], [0.5, 0.95]).collect()
    }
    pdf = df.toPandas()
    for sym, grp in pdf.groupby("symbol"):
        vals = grp["value"].to_numpy()
        for q, col in ((0.5, "p50"), (0.95, "p95")):
            assert _rank_error(vals, est[sym][col], q) <= 0.05, (sym, q)
        assert est[sym]["n_rows"] == len(vals)

    # global grain ([] group): one row, additive n
    g = quantile_estimate(rollup, [], [0.5]).collect()
    assert len(g) == 1 and g[0]["n_rows"] == 40_000
    assert _rank_error(pdf["value"].to_numpy(), g[0]["p50"], 0.5) <= 0.05


def test_quantile_rollup_plan_is_arrow_batched(spark):
    """Scale shape: the build is MapInPandas (Arrow) + one grouped merge —
    no row-at-a-time Python, and the shuffle moves sketches, not values."""
    from binance_data_pipeline_spark.plans.audit import audit_plan

    df = spark.range(1000).select(
        (F.col("id") % 4).alias("g"), F.rand(7).alias("value")
    )
    rollup = quantile_rollup(df, ["g"], "value", k=64)
    findings = [f for f in audit_plan(rollup) if f.severity == "error"]
    assert not findings, findings
    plan = rollup._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "FlatMapGroupsInPandas" in plan


def test_quantile_matches_percentile_approx_ballpark(spark):
    """Cross-check against Spark's own GK-based percentile_approx: both
    approximate, so compare via rank error on the true data, not equality."""
    rng = np.random.default_rng(11)
    vals = rng.exponential(5.0, size=20_000)
    df = spark.createDataFrame([(float(v),) for v in vals], "value double")
    rollup = quantile_rollup(df.withColumn("b", F.lit(1)), ["b"], "value")
    (ours,) = quantile_estimate(rollup, [], [0.9]).collect()
    theirs = df.agg(F.percentile_approx("value", 0.9).alias("p")).collect()[0]["p"]
    assert _rank_error(vals, ours["p90"], 0.9) <= 0.05
    assert _rank_error(vals, theirs, 0.9) <= 0.05


# ----------------------------------------------------- streaming / merge state
