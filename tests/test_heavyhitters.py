"""Mergeable heavy-hitters rollup (operators/heavyhitters.py) — MG
summaries with the Agarwal et al. mergeable-summaries merge. Extension
surface: the serving-layer twin of vocab.py's exact one-shot frequencies."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import numpy as np
import pytest
from pyspark.sql import functions as F

from binance_data_pipeline_spark.operators.heavyhitters import (
    heavy_hitters_estimate,
    heavy_hitters_rollup,
    mg_build,
    mg_merge,
    mg_topk,
)


def _zipf_items(rng, n, n_items=1000, a=1.5):
    return [f"item{z}" for z in rng.zipf(a, size=n) if z <= n_items]


def test_mg_exact_when_few_distinct():
    sk = mg_build(["a", "a", "b", "a", "c"], k=8)
    assert dict(sk["c"]) == {"a": 3, "b": 1, "c": 1}
    assert mg_topk(sk, 2) == [("a", 3, 0), ("b", 1, 0)]


def test_mg_guarantee_underestimate_within_bound():
    """true - n/k ≤ estimate ≤ true for every surviving counter, and every
    item with true frequency > n/k is present."""
    rng = np.random.default_rng(2)
    items = _zipf_items(rng, 50_000)
    sk = mg_build(items, k=64)
    from collections import Counter

    truth = Counter(items)
    n = len(items)
    err = n // 65
    for item, est, bound in mg_topk(sk, 20):
        assert est <= truth[item] <= est + bound
        assert bound <= err + 1
    for item, c in truth.items():
        if c > n / 64:
            assert item in sk["c"], f"{item} ({c} > n/k) missing"


def test_mg_merge_valid_summary():
    """Merged summary obeys the same bound as a direct build over the
    concatenation (the PODS'12 mergeability theorem, checked empirically)."""
    rng = np.random.default_rng(5)
    shards = [_zipf_items(rng, 20_000) for _ in range(6)]
    merged = mg_build(shards[0], k=64)
    for s in shards[1:]:
        merged = mg_merge(merged, mg_build(s, k=64))
    from collections import Counter

    allv = [x for s in shards for x in s]
    truth = Counter(allv)
    assert merged["n"] == len(allv)
    bound = len(allv) / 64
    for item, est, _ in mg_topk(merged, 15):
        assert est <= truth[item] <= est + bound + 1
    # the unambiguous heavy hitters all survive the merge
    top_true = [it for it, c in truth.most_common(5)]
    got = {it for it, _, _ in mg_topk(merged, 15)}
    assert set(top_true) <= got


def test_mg_merge_rejects_mixed_k():
    with pytest.raises(ValueError, match="k="):
        mg_merge(mg_build(["a"], k=8), mg_build(["a"], k=16))


def test_heavy_hitters_rollup_and_estimate(spark):
    rng = np.random.default_rng(9)
    rows = [
        (f"2024-06-{1 + i % 2:02d}", it)
        for i, it in enumerate(_zipf_items(rng, 30_000))
    ]
    df = spark.createDataFrame(rows, "day string, item string")
    rollup = heavy_hitters_rollup(df, ["day"], "item", k=64)
    stored = rollup.collect()
    assert len(stored) == 2
    assert sum(r["n_rows"] for r in stored) == len(rows)

    # coarser (global) grain from merged summaries vs exact truth
    est = heavy_hitters_estimate(rollup.withColumn("g", F.lit(1)), ["g"], top=5).collect()
    truth = {
        r["item"]: r["c"]
        for r in df.groupBy("item").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    top_true = sorted(truth, key=lambda it: -truth[it])[:3]
    got_items = [r["item"] for r in est]
    for it in top_true:
        assert it in got_items
    for r in est:
        assert r["estimate"] <= truth[r["item"]] <= r["estimate"] + r["error_bound"] + 1
        assert 0.0 < r["share"] <= 1.0


def test_heavy_hitters_plan_is_arrow_batched(spark):
    from binance_data_pipeline_spark.plans.audit import audit_plan

    df = spark.range(2000).select(
        (F.col("id") % 3).alias("g"), (F.col("id") % 17).cast("string").alias("item")
    )
    rollup = heavy_hitters_rollup(df, ["g"], "item", k=16)
    errors = [f for f in audit_plan(rollup) if f.severity == "error"]
    assert not errors, errors
    plan = rollup._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "FlatMapGroupsInPandas" in plan
