"""Mergeable sketch rollups — pre-aggregated approximate state that
composes across buckets without rescanning raw data.

`count(distinct x)` is the one aggregate a rollup table cannot serve:
distinct counts don't add across buckets, so the reference's pattern
(dbt_project/models/marts/agg_revenue_daily.sql — plain additive SUMs)
cannot answer "distinct symbols this month" from daily rows; it must
rescan raw. The warehouse-native answer (Druid/BigQuery/Datasketches)
is to store a MERGEABLE SKETCH per bucket:

  - HLL sketch per (bucket, dims) → `hll_union_agg` collapses any
    bucket range to one sketch, `hll_sketch_estimate` reads it — both
    JVM built-ins (Apache DataSketches HLL inside Spark), so re-rollup
    to coarser grain is ordinary SQL over the rollup table and touches
    raw data never.
  - Count-min sketch per bucket → point frequency estimates
    ("how often did item X trade in this range") with ε·N additive
    overcount at confidence δ. Spark ships the builder
    (`F.count_min_sketch`) but no SQL-side union, so range queries
    deserialize the BUCKET sketches (kilobytes each, one per bucket —
    never row data) on the driver and merge via the JVM
    `CountMinSketch.mergeInPlace` — O(#buckets × sketch size), the
    standard serving-layer shape.

Late rows in an old bucket are absorbed by recomputing that bucket's
sketch like any other aggregate: a pure overwrite, so there is no
sketch-subtract problem.

At 100 TB: sketch build is one shuffle at (bucket × dims) grain with
map-side partial aggregation (sketches merge associatively, so partial
agg works); rollup rows carry ~KB sketches; every range query runs over
the rollup table, pruned by the bucket predicate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def hll_rollup(
    df: DataFrame,
    group_cols: list[str],
    distinct_cols: list[str],
    lgk: int = 12,
) -> DataFrame:
    """One row per group with an HLL sketch per tracked column
    (``{col}_hll`` binary, ~2^lgk bytes dense) plus additive ``n_rows``.
    lgk=12 ⇒ ~1.6% relative standard error."""
    aggs = [
        F.hll_sketch_agg(c, lgk).alias(f"{c}_hll") for c in distinct_cols
    ] + [F.count(F.lit(1)).alias("n_rows")]
    return df.groupBy(*group_cols).agg(*aggs)


def hll_estimate(
    rollup: DataFrame,
    group_cols: list[str],
    distinct_cols: list[str],
) -> DataFrame:
    """Re-aggregate a sketch rollup to coarser grain: union the per-bucket
    sketches over each output group, estimate distinct counts.
    ``group_cols`` may be any subset (including []) of the rollup's
    grouping — this is the query that would otherwise rescan raw."""
    aggs = [
        F.hll_sketch_estimate(F.hll_union_agg(f"{c}_hll")).alias(f"{c}_distinct")
        for c in distinct_cols
    ] + [F.sum("n_rows").alias("n_rows")]
    return rollup.groupBy(*group_cols).agg(*aggs)


def cms_rollup(
    df: DataFrame,
    group_cols: list[str],
    item_col: str,
    eps: float = 0.001,
    confidence: float = 0.99,
    seed: int = 42,
) -> DataFrame:
    """One count-min sketch per group over ``item_col`` (binary ``cms``
    column, width ~ e/eps counters) plus ``n_rows`` for error bounds.
    Every bucket MUST use the same (eps, confidence, seed) or the
    sketches won't merge — keep them fixed for a table's lifetime."""
    return df.groupBy(*group_cols).agg(
        F.count_min_sketch(
            item_col, F.lit(float(eps)), F.lit(float(confidence)), F.lit(int(seed))
        ).alias("cms"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def cms_query(
    spark: SparkSession,
    rollup: DataFrame,
    items: list,
    predicate: Column | None = None,
) -> list[dict]:
    """Point-frequency estimates for ``items`` over the bucket range
    selected by ``predicate`` (None = whole table).

    Collects only the selected BUCKET SKETCHES (KBs per bucket) and
    merges them in the JVM — never row data; fine while the selected
    bucket count stays in the thousands (beyond that, keep a coarser
    sketch grain alongside — it derives from the fine rollup, not raw).
    Estimates overcount only: true ≤ est ≤ true + ε·N at confidence δ."""
    sel = rollup if predicate is None else rollup.filter(predicate)
    rows = sel.select("cms", "n_rows").collect()
    if not rows:
        return [{"item": it, "estimate": 0, "n_rows": 0} for it in items]
    jcls = spark._jvm.org.apache.spark.util.sketch.CountMinSketch
    merged = jcls.readFrom(bytes(rows[0]["cms"]))
    total = rows[0]["n_rows"]
    for r in rows[1:]:
        merged.mergeInPlace(jcls.readFrom(bytes(r["cms"])))
        total += r["n_rows"]
    return [
        {"item": it, "estimate": int(merged.estimateCount(it)), "n_rows": total}
        for it in items
    ]
