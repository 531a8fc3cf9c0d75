"""SCD2 merges: initial load, change/no-change, within-batch chaining,
snapshot-redelivery idempotence, out-of-order rejection, and the
structural invariants (one open row per key, contiguous intervals)."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import datetime as dt

import pytest

from binance_data_pipeline_spark.operators.scd import scd2_merge


def _ts(d, h=0):
    return dt.datetime(2024, 1, d, h)


def _updates(spark, rows):
    return spark.createDataFrame(
        rows, "cust_id long, tier string, city string, effective_ts timestamp"
    )


def _invariants(rows, key="cust_id"):
    by_key = {}
    for r in rows:
        by_key.setdefault(r[key], []).append(r)
    for k, versions in by_key.items():
        versions.sort(key=lambda r: r["valid_from"])
        open_rows = [r for r in versions if r["is_current"]]
        assert len(open_rows) == 1, f"key {k}: {len(open_rows)} open rows"
        assert open_rows[0]["valid_to"] is None
        for a, b in zip(versions, versions[1:]):
            assert a["valid_to"] == b["valid_from"], f"gap in key {k}"


def test_initial_load_and_change_history(spark):
    d1 = scd2_merge(
        None,
        _updates(spark, [(1, "gold", "rome", _ts(1)), (2, "basic", "oslo", _ts(1))]),
        ["cust_id"], ["tier", "city"],
    )
    rows = d1.collect()
    assert len(rows) == 2 and all(r["is_current"] for r in rows)

    # tier change for 1; no change for 2
    d2 = scd2_merge(
        d1,
        _updates(spark, [(1, "platinum", "rome", _ts(5)), (2, "basic", "oslo", _ts(5))]),
        ["cust_id"], ["tier", "city"],
    )
    rows = d2.collect()
    _invariants(rows)
    assert len(rows) == 3  # 2 for cust 1 (closed+open), 1 untouched for cust 2
    c1 = sorted((r for r in rows if r["cust_id"] == 1), key=lambda r: r["valid_from"])
    assert [r["tier"] for r in c1] == ["gold", "platinum"]
    assert c1[0]["valid_to"] == _ts(5) and not c1[0]["is_current"]


def test_within_batch_chaining_and_consecutive_dedup(spark):
    d = scd2_merge(
        None,
        _updates(spark, [
            (1, "gold", "rome", _ts(1)),
            (1, "gold", "rome", _ts(2)),      # no change -> collapses
            (1, "silver", "rome", _ts(3)),
            (1, "silver", "oslo", _ts(4)),
        ]),
        ["cust_id"], ["tier", "city"],
    )
    rows = sorted(d.collect(), key=lambda r: r["valid_from"])
    _invariants(rows)
    assert [(r["tier"], r["city"]) for r in rows] == [
        ("gold", "rome"), ("silver", "rome"), ("silver", "oslo")
    ]
    assert [r["valid_from"] for r in rows] == [_ts(1), _ts(3), _ts(4)]


def test_snapshot_redelivery_is_noop(spark):
    d1 = scd2_merge(
        None, _updates(spark, [(1, "gold", "rome", _ts(1))]), ["cust_id"], ["tier", "city"]
    )
    d2 = scd2_merge(
        d1, _updates(spark, [(1, "gold", "rome", _ts(9))]), ["cust_id"], ["tier", "city"]
    )
    rows = d2.collect()
    assert len(rows) == 1 and rows[0]["is_current"] and rows[0]["valid_from"] == _ts(1)


def test_out_of_order_update_rejected(spark):
    d1 = scd2_merge(
        None, _updates(spark, [(1, "gold", "rome", _ts(5))]), ["cust_id"], ["tier", "city"]
    )
    with pytest.raises(ValueError, match="out-of-order"):
        scd2_merge(
            d1, _updates(spark, [(1, "silver", "rome", _ts(3))]),
            ["cust_id"], ["tier", "city"],
        )


def test_multi_key_and_validation(spark):
    d1 = scd2_merge(
        None,
        _updates(spark, [(1, "gold", "rome", _ts(1)), (2, "basic", "oslo", _ts(2))]),
        ["cust_id"], ["tier", "city"],
    )
    d2 = scd2_merge(
        d1,
        _updates(spark, [
            (2, "plus", "oslo", _ts(4)),
            (3, "new", "paris", _ts(4)),
        ]),
        ["cust_id"], ["tier", "city"],
    )
    rows = d2.collect()
    _invariants(rows)
    assert {r["cust_id"] for r in rows} == {1, 2, 3} and len(rows) == 4
    with pytest.raises(ValueError, match="non-empty"):
        scd2_merge(None, _updates(spark, []), [], ["tier"])
