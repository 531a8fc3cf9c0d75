"""Skew handling for joins: find the hot keys of a skewed join side
(``detect_hot_keys``) and salt around them (``skew_join``).

AQE's skew-join split covers sort-merge joins at partition granularity;
explicit salting is for the cases AQE can't reach — a single key too big
for one task, hash joins, deterministic splits. This addresses the
SURVEY §7.3 skew risk item; ``scripts/skew_smoke.py`` drives both at
scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def detect_hot_keys(
    df: DataFrame,
    key_cols: list[str],
    min_share: float = 0.01,
    top_k: int = 64,
) -> DataFrame:
    """The key tuples holding at least ``min_share`` of ``df``'s rows —
    the explicit hot set ``skew_join`` salts around. Everything stays
    in-plan: one hash aggregation on the key (map-side combine soaks the
    skew being measured), the 1-row total re-enters via a broadcast
    cross-join, and the result is LIMITed to ``top_k`` rows, so it is
    broadcast-sized by construction. NULL keys are excluded — a null-key
    row can never match in the equi-join this set feeds.

    Returns a DataFrame with exactly ``key_cols``."""
    counts = (
        df.na.drop(subset=key_cols)
        .groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__kc"))
    )
    total = counts.agg(F.sum("__kc").alias("__total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .where(F.col("__kc") >= F.col("__total") * F.lit(min_share))
        .orderBy(F.desc("__kc"), *[F.asc(c) for c in key_cols])
        .limit(top_k)
        .select(*key_cols)
    )


def skew_join(
    big: DataFrame,
    other: DataFrame,
    on: str | list[str],
    how: str = "inner",
    hot_keys: DataFrame | None = None,
    n_salts: int = 16,
    min_share: float = 0.01,
) -> DataFrame:
    """Equi-join that survives hot keys on the BIG side when both sides
    are too large to broadcast: split the big side into hot/cold around an
    explicit hot-key set, shuffle-join the cold mass normally, and for the
    hot mass salt big rows into ``n_salts`` buckets while replicating the
    other side's (few, hot-key) rows across all buckets — so one hot key
    occupies ``n_salts`` reducers instead of one straggler.

    When to reach for this instead of AQE: AQE's skew split
    (``spark.sql.adaptive.skewJoin``) already handles sort-merge joins by
    splitting oversized partitions, but it only sees partition-level
    sizes post-shuffle. Explicit salting is the tool when (a) a SINGLE
    key exceeds what one task can hold (AQE cannot split one key's rows
    for a hash join build side), (b) the join is hash-based, or (c) you
    need the split deterministic across runs. ``detect_hot_keys``
    supplies the diagnosis.

    - ``on``: equi-key column name(s) present in both frames.
    - ``how``: ``inner`` or ``left`` (big side preserved). Right/full
      would need the OTHER side's unmatched rows reconciled across the
      salt replication — out of scope, raises.
    - ``hot_keys``: DataFrame holding exactly the key columns (e.g. from
      ``detect_hot_keys``); defaults to ``detect_hot_keys(big, keys,
      min_share)``. It is broadcast on every use — keep it top-k-bounded.
    - NULL keys never match an equi-join, so they fall through to the
      cold leg untouched (the semi/anti split uses null-unsafe equality,
      matching the join's own semantics).

    Scale shape: the big side is scanned twice (broadcast semi + anti
    against the hot set — map-side, no shuffle) and shuffled once per
    leg on (key) / (key, salt); the other side's hot rows expand by
    ``n_salts`` — bounded by |hot ∩ other| · n_salts rows, kilobytes in
    the intended regime where the hot set is a handful of keys."""
    if how not in ("inner", "left"):
        raise ValueError(
            f"skew_join supports how='inner'|'left', got {how!r} — right/full "
            "would pair the other side's unmatched rows with every salt replica"
        )
    keys = [on] if isinstance(on, str) else list(on)
    if hot_keys is None:
        hot_keys = detect_hot_keys(big, keys, min_share=min_share)
    hot_set = F.broadcast(hot_keys.select(*keys).distinct())

    big_hot = big.join(hot_set, keys, "left_semi")
    big_cold = big.join(hot_set, keys, "left_anti")
    other_hot = other.join(hot_set, keys, "left_semi")

    # Cold leg joins the FULL other side: hot-key rows over there cannot
    # match a cold big row under equi semantics, so no anti-join is needed.
    cold = big_cold.join(other, keys, how)

    salt = F.pmod(
        F.spark_partition_id().cast("long") + F.monotonically_increasing_id(),
        F.lit(n_salts),
    ).cast("int")
    big_salted = big_hot.withColumn("__salt", salt)
    other_replicated = other_hot.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    hot = big_salted.join(other_replicated, keys + ["__salt"], how).drop("__salt")
    return cold.unionByName(hot)
