"""Slowly-changing-dimension maintenance (SCD Type 2) — the dimension
history pattern the reference's dbt warehouse would adopt next (dbt
ships it as `snapshots`; Kimball, The Data Warehouse Toolkit, ch. 2):
instead of overwriting a dimension row on change, close the old version
(``valid_to`` = change time) and open a new one, so facts can always
join "the dimension as it was".

Semantics implemented (the dbt `check` strategy, generalized):

- an update row OPENS a new version when its tracked attributes differ
  from the key's latest version (or the key is new);
- consecutive updates with identical tracked attributes collapse —
  within the batch AND against the existing open row — so re-delivering
  the same snapshot is a no-op (idempotent merges);
- multiple changes for one key in one batch CHAIN: each version's
  ``valid_to`` is the next version's ``valid_from``; only the last is
  open (``valid_to`` NULL, ``is_current`` true).

Plan: one window pass over the (small-by-nature) update batch for
change detection + chaining, one key-equi-join against the dimension's
open rows, and a union — the dimension is never shuffled beyond the
open-row join. Late updates older than a key's open row are rejected
loudly (out-of-order history would silently corrupt ``valid_to``
chains) — replay the affected keys' full history instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["scd2_merge"]


def scd2_merge(
    dim: DataFrame | None,
    updates: DataFrame,
    key_cols: list[str],
    tracked_cols: list[str],
    ts_col: str = "effective_ts",
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    current_col: str = "is_current",
) -> DataFrame:
    """Fold ``updates`` (key cols + tracked cols + ``ts_col``) into the
    SCD2 table ``dim`` (None or empty = initial load). Returns the new
    full dimension: key cols + tracked cols + valid_from/valid_to/
    is_current. Ties on ``ts_col`` within a key are broken by the
    tracked columns (deterministic, but give updates distinct
    timestamps — a tie has no meaningful order)."""
    if not key_cols or not tracked_cols:
        raise ValueError("key_cols and tracked_cols must be non-empty")
    up = updates.select(
        *key_cols, *tracked_cols, F.col(ts_col).alias("__ts")
    )
    w = Window.partitionBy(*key_cols).orderBy(
        F.col("__ts").asc(), *[F.col(c).asc_nulls_first() for c in tracked_cols]
    )
    attrs = F.struct(*[F.col(c) for c in tracked_cols])
    # within-batch change detection: drop rows equal to their predecessor
    changed = (
        up.withColumn("__prev", F.lag(attrs).over(w))
        .where(F.col("__prev").isNull() | (attrs != F.col("__prev")))
        .drop("__prev")
    )

    if dim is not None and not dim.isEmpty():
        open_rows = dim.where(F.col(current_col))
        closed_rows = dim.where(~F.col(current_col))
        cur = open_rows.select(
            *key_cols,
            F.struct(*[F.col(c) for c in tracked_cols]).alias("__cur_attrs"),
            F.col(valid_from).alias("__cur_from"),
        )
        joined = changed.join(cur, key_cols, "left")
        late = joined.where(
            F.col("__cur_from").isNotNull() & (F.col("__ts") <= F.col("__cur_from"))
        )
        if not late.isEmpty():
            bad = late.select(*key_cols).distinct().limit(5).collect()
            raise ValueError(
                f"updates at or before the open version for keys {bad} — "
                "out-of-order history; replay those keys instead"
            )
        # drop the batch's FIRST change per key when it matches the open
        # row (snapshot re-delivery); later rows chain regardless
        wk = Window.partitionBy(*key_cols).orderBy(F.col("__ts").asc())
        joined = joined.withColumn("__rk", F.row_number().over(wk))
        changed = joined.where(
            ~(
                (F.col("__rk") == 1)
                & F.col("__cur_attrs").isNotNull()
                & (attrs == F.col("__cur_attrs"))
            )
        ).select(*key_cols, *tracked_cols, "__ts")
    else:
        open_rows = closed_rows = None

    # chain versions: valid_to = next version's valid_from
    nxt = F.lead(F.col("__ts")).over(w)
    new_rows = changed.select(
        *key_cols,
        *tracked_cols,
        F.col("__ts").alias(valid_from),
        nxt.alias(valid_to),
    ).withColumn(current_col, F.col(valid_to).isNull())

    if open_rows is None:
        return new_rows

    affected = new_rows.select(*key_cols).distinct()
    first_new = changed.groupBy(*key_cols).agg(F.min("__ts").alias("__closes_at"))
    closed_now = (
        open_rows.join(F.broadcast(first_new), key_cols)
        .withColumn(valid_to, F.col("__closes_at"))
        .withColumn(current_col, F.lit(False))
        .drop("__closes_at")
    )
    untouched_open = open_rows.join(F.broadcast(affected), key_cols, "left_anti")
    return (
        closed_rows.unionByName(untouched_open)
        .unionByName(closed_now)
        .unionByName(new_rows)
    )
