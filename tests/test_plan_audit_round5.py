"""Scale audit for the round-5 analytics modules: their hot-path
plans must be free of row-at-a-time Python and accidental Cartesian
pairing (the same contract test_plans.py enforces for the catalog)."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from binance_data_pipeline_spark.plans.audit import audit_plan


def _clean(df):
    findings = [
        f for f in audit_plan(df) if f.code in ("PY_ROW_EVAL", "CARTESIAN")
    ]
    assert findings == [], findings


def test_behavior_plans_are_scale_clean(spark):
    from binance_data_pipeline_spark.operators.behavior import (
        cohort_retention,
        funnel_conversion,
    )

    ev = spark.createDataFrame(
        [("u1", "view", "2024-01-01 10:00:00"),
         ("u1", "cart", "2024-01-01 10:05:00"),
         ("u1", "buy", "2024-01-08 10:10:00")],
        "user_id string, event_type string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    _clean(funnel_conversion(ev, ["view", "cart", "buy"]))
    _clean(cohort_retention(ev))


def test_anomaly_plans_are_scale_clean(spark):
    from binance_data_pipeline_spark.operators.anomaly import zscore_anomalies

    ts = spark.createDataFrame(
        [("a", float(i), float(i % 7)) for i in range(50)],
        "series string, t double, v double",
    )
    _clean(zscore_anomalies(ts, "v", "t", group_cols=["series"], window=10))

