"""Sketch rollups: HLL per-bucket sketches merge to the same answer as a
direct scan (within the sketch's error bound, exact at these
cardinalities) and survive a parquet round-trip; CMS estimates only ever
overcount, bounded by ε·N, and bucket merges equal the direct sketch."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import pytest
from pyspark.sql import functions as F

from binance_data_pipeline_spark.operators.sketches import (
    cms_query,
    cms_rollup,
    hll_estimate,
    hll_rollup,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey",
        "l_suppkey",
        "l_returnflag",
        F.date_trunc("month", "l_shipdate").alias("month"),
    )


def test_hll_rollup_estimates_match_exact(spark, lineitem):
    rollup = hll_rollup(lineitem, ["month"], ["l_orderkey", "l_suppkey"])
    est = hll_estimate(rollup, [], ["l_orderkey", "l_suppkey"]).first()
    exact = lineitem.agg(
        F.countDistinct("l_orderkey").alias("o"),
        F.countDistinct("l_suppkey").alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    assert est["l_suppkey_distinct"] == exact["s"]  # 10 distinct: exact
    assert abs(est["l_orderkey_distinct"] - exact["o"]) / exact["o"] < 0.05
    assert est["n_rows"] == exact["n"]


def test_hll_re_rollup_to_coarser_grain(spark, lineitem):
    # month-grain sketches re-rolled to year == direct year-grain sketches
    monthly = hll_rollup(
        lineitem.withColumn("year", F.date_trunc("year", "month")),
        ["year", "month"],
        ["l_orderkey"],
    )
    via_monthly = {
        r["year"]: r["l_orderkey_distinct"]
        for r in hll_estimate(monthly, ["year"], ["l_orderkey"]).collect()
    }
    direct = {
        r["year"]: r["l_orderkey_distinct"]
        for r in hll_estimate(
            hll_rollup(
                lineitem.withColumn("year", F.date_trunc("year", "month")),
                ["year"],
                ["l_orderkey"],
            ),
            ["year"],
            ["l_orderkey"],
        ).collect()
    }
    # merged-sketch counts track the direct sketch closely (HLL union is
    # not bit-identical to one-pass build — register transitions differ —
    # but both stay inside the lgk=12 error envelope)
    assert set(via_monthly) == set(direct)
    for y, d in direct.items():
        assert abs(via_monthly[y] - d) / d < 0.05


def test_hll_sketch_survives_parquet(spark, lineitem, tmp_path):
    path = str(tmp_path / "rollup.parquet")
    hll_rollup(lineitem, ["month"], ["l_orderkey"]).write.parquet(path)
    back = spark.read.parquet(path)
    est = hll_estimate(back, [], ["l_orderkey"]).first()["l_orderkey_distinct"]
    exact = lineitem.select("l_orderkey").distinct().count()
    assert abs(est - exact) / exact < 0.05


def test_cms_overcounts_within_bound(spark, lineitem):
    buckets = cms_rollup(lineitem, ["month"], "l_suppkey", eps=0.001)
    truth = {
        r["l_suppkey"]: r["n"]
        for r in lineitem.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    items = sorted(truth)[:5] + [999999]  # 999999 absent from the data
    got = {d["item"]: d for d in cms_query(spark, buckets, items)}
    n_total = sum(truth.values())
    for it in items:
        true_n = truth.get(it, 0)
        assert got[it]["estimate"] >= true_n
        assert got[it]["estimate"] <= true_n + 0.001 * n_total + 1
        assert got[it]["n_rows"] == n_total


def test_cms_bucket_merge_equals_direct(spark, lineitem):
    bucketed = cms_rollup(lineitem, ["month"], "l_returnflag", eps=0.01)
    direct = cms_rollup(lineitem, [], "l_returnflag", eps=0.01)
    items = ["A", "N", "R"]
    assert cms_query(spark, bucketed, items) == cms_query(spark, direct, items)


def test_cms_predicate_selects_buckets(spark, lineitem):
    buckets = cms_rollup(lineitem, ["month"], "l_returnflag", eps=0.01)
    one_month = lineitem.select(F.min("month")).first()[0]
    got = cms_query(
        spark, buckets, ["A"], predicate=F.col("month") == F.lit(one_month)
    )[0]
    true_n = lineitem.filter(
        (F.col("month") == F.lit(one_month)) & (F.col("l_returnflag") == "A")
    ).count()
    n_month = lineitem.filter(F.col("month") == F.lit(one_month)).count()
    assert true_n <= got["estimate"] <= true_n + 0.01 * n_month + 1
    assert got["n_rows"] == n_month


def test_cms_empty_selection(spark, lineitem):
    buckets = cms_rollup(lineitem, ["month"], "l_returnflag")
    got = cms_query(spark, buckets, ["A"], predicate=F.lit(False))
    assert got == [{"item": "A", "estimate": 0, "n_rows": 0}]
