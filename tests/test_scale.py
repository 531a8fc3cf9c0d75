"""Scale-path tests: checkpoint-barrier release, AQE's runtime skew-join
split, and the explicit salted skew join."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F


# ----------------------------------------------------------- lifecycle

def test_release_barriers_frees_checkpoint_blocks(spark):
    """Eager localCheckpoint barriers (dedup/similarity intermediates) pin
    executor-storage blocks until released; release_barriers must free
    every one of them once results are consumed — the between-queries
    contract bench.py and job boundaries rely on."""
    from binance_data_pipeline_spark.lifecycle import (
        barrier_scope,
        persistent_rdd_count,
        release_barriers,
    )

    release_barriers(spark)  # clean slate (other tests may have persisted)
    base = persistent_rdd_count(spark)

    ck = spark.range(10_000).localCheckpoint(eager=True)
    ck2 = spark.range(100).localCheckpoint(eager=True)
    assert persistent_rdd_count(spark) >= base + 2
    assert ck.count() == 10_000 and ck2.count() == 100  # consume

    released = release_barriers(spark)
    assert released >= 2
    assert persistent_rdd_count(spark) == 0

    # context-manager form: blocks created inside are gone on exit
    with barrier_scope(spark):
        inner = spark.range(500).localCheckpoint(eager=True)
        assert inner.count() == 500
        assert persistent_rdd_count(spark) >= 1
    assert persistent_rdd_count(spark) == 0


def test_aqe_skew_join_splits_hot_partition(spark):
    """The session enables AQE skew-join handling; this pins that a
    pathologically skewed join actually triggers the runtime split (the
    mechanism a 100 TB deployment leans on when salting isn't applied).
    Thresholds are lowered so the sf-test-sized hot key qualifies."""
    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        # force a shuffle join: broadcast would bypass the skew machinery
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

        # 200k rows on ONE key vs a flat right side
        left = spark.range(200_000).select(
            F.lit(7).alias("k"), F.col("id").alias("payload")
        ).union(spark.range(2_000).select((F.col("id") % 50).alias("k"), F.col("id")))
        right = spark.range(50).select(F.col("id").alias("k"), F.lit("dim").alias("v"))
        joined = left.join(right, "k")
        joined.collect()  # finalize THIS DataFrame's adaptive plan
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_skew_join_inner_matches_plain(spark):
    """skew_join ≡ plain join for inner/left on skewed data (one key =
    90% of rows), including multi-row matches on the other side, with
    the hot leg actually salted (both auto-detected and explicit hot
    sets)."""
    from binance_data_pipeline_spark.operators.scale import detect_hot_keys, skew_join

    big = spark.range(10_000).select(
        F.when(F.col("id") < 9_000, F.lit(7)).otherwise(F.col("id") % 40).alias("k"),
        F.col("id").alias("payload"),
    )
    # two rows per key on the other side → fan-out 2, incl. for the hot key
    other = (
        spark.range(40)
        .select(F.col("id").alias("k"), F.lit("a").alias("tag"))
        .union(spark.range(40).select(F.col("id").alias("k"), F.lit("b")))
    )
    expected = big.join(other, "k").groupBy("k").count().collect()
    got = skew_join(big, other, "k", n_salts=8).groupBy("k").count().collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, expected))

    hot = detect_hot_keys(big, ["k"], min_share=0.5)
    assert [r["k"] for r in hot.collect()] == [7]
    got2 = skew_join(big, other, "k", hot_keys=hot, n_salts=8)
    assert got2.count() == big.join(other, "k").count()


def test_skew_join_left_preserves_unmatched(spark):
    """how='left' keeps unmatched big rows in BOTH legs: a cold key with
    no match and a hot key missing from the other side survive with
    nulls."""
    from binance_data_pipeline_spark.operators.scale import skew_join

    hot = spark.createDataFrame([(99,)], "k long")
    big = spark.range(5_000).select(
        F.when(F.col("id") < 4_000, F.lit(99)).otherwise(F.col("id") % 10).alias("k"),
        F.col("id").alias("payload"),
    )
    # other side has keys 0..4 only: hot key 99 AND cold keys 5..9 unmatched
    other = spark.range(5).select(F.col("id").alias("k"), F.lit("x").alias("tag"))
    expected = big.join(other, "k", "left")
    got = skew_join(big, other, "k", how="left", hot_keys=hot, n_salts=4)
    assert got.count() == expected.count() == 5_000
    assert (
        got.where(F.col("tag").isNull()).count()
        == expected.where(F.col("tag").isNull()).count()
        == 4_000 + 500
    )


def test_skew_join_null_keys_and_how_guard(spark):
    """NULL keys never match (same as a plain equi-join) and fall through
    the cold leg; unsupported how raises."""
    import pytest as _pytest

    from binance_data_pipeline_spark.operators.scale import skew_join

    big = spark.createDataFrame(
        [(None, 1), (None, 2), (7, 3), (7, 4), (1, 5)], "k long, payload long"
    )
    other = spark.createDataFrame([(7, "x"), (1, "y")], "k long, tag string")
    hot = spark.createDataFrame([(7,)], "k long")
    inner = skew_join(big, other, "k", hot_keys=hot, n_salts=2)
    assert inner.count() == 3
    left = skew_join(big, other, "k", how="left", hot_keys=hot, n_salts=2)
    assert left.count() == 5
    assert left.where(F.col("k").isNull() & F.col("tag").isNull()).count() == 2
    with _pytest.raises(ValueError, match="inner.*left"):
        skew_join(big, other, "k", how="full", hot_keys=hot)


def test_skew_join_salts_spread_hot_key(spark):
    """The hot leg actually spreads one key across salt buckets: with the
    cold leg empty, the (key, salt) exchange must see >1 distinct salt —
    the whole point of the rewrite."""
    from binance_data_pipeline_spark.operators.scale import skew_join

    big = spark.range(8_000).select(F.lit(7).alias("k"), F.col("id").alias("payload"))
    other = spark.createDataFrame([(7, "x")], "k long, tag string")
    hot = spark.createDataFrame([(7,)], "k long")
    out = skew_join(big, other, "k", hot_keys=hot, n_salts=8)
    assert out.count() == 8_000
    salt = F.pmod(
        F.spark_partition_id().cast("long") + F.monotonically_increasing_id(),
        F.lit(8),
    ).cast("int")
    n_salts_seen = big.withColumn("__salt", salt).select("__salt").distinct().count()
    assert n_salts_seen > 1
