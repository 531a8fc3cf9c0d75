"""Time-series anomaly flags — the monitoring layer over the series
operators (the caller builds a dense series; this scores it). Three
standard detectors, all single-window-pass, JVM-only:

- ``zscore_anomalies``: rolling mean/std over the PRECEDING ``window``
  rows (the current row never contaminates its own baseline — the
  classic self-masking mistake), flag |z| > threshold.
- ``robust_anomalies``: rolling median center with an IQR-derived
  sigma ((p75 − p25)/1.349 ≈ σ for normal data) — a level shift or a
  single huge spike in the baseline window doesn't inflate the scale
  the way it inflates a stddev (median/IQR have a 25% breakdown point
  vs 0% for mean/std).
- ``seasonal_residuals``: x − x[t − season] (seasonal-naive baseline);
  feed the residual back through either detector for seasonal series.

All three share one Window spec per call (partition by the series keys,
order by time, rows frame) — one sort exchange per series, reused
across every aggregate in the pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["zscore_anomalies", "robust_anomalies", "seasonal_residuals"]


def _frame(group_cols: list[str], order_col: str, window: int):
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    return (
        Window.partitionBy(*group_cols)
        .orderBy(F.col(order_col).asc())
        .rowsBetween(-window, -1)
    )


def zscore_anomalies(
    df: DataFrame,
    value_col: str,
    order_col: str,
    group_cols: list[str] | None = None,
    window: int = 20,
    threshold: float = 3.0,
    min_baseline: int = 5,
) -> DataFrame:
    """Adds ``baseline_mean``, ``baseline_std``, ``zscore``,
    ``is_anomaly``. Rows with fewer than ``min_baseline`` preceding
    observations (series warm-up) or zero baseline variance get NULL
    zscore and is_anomaly=false — absence of evidence, flagged neither
    way."""
    w = _frame(group_cols or [], order_col, window)
    x = F.col(value_col)
    mean = F.avg(x).over(w)
    std = F.stddev_samp(x).over(w)
    n = F.count(x).over(w)
    z = F.when(
        (n >= min_baseline) & std.isNotNull() & (std > 0), (x - mean) / std
    )
    return (
        df.withColumn("baseline_mean", mean)
        .withColumn("baseline_std", std)
        .withColumn("zscore", z)
        .withColumn(
            "is_anomaly",
            F.coalesce(F.abs(F.col("zscore")) > F.lit(threshold), F.lit(False)),
        )
    )


def robust_anomalies(
    df: DataFrame,
    value_col: str,
    order_col: str,
    group_cols: list[str] | None = None,
    window: int = 20,
    threshold: float = 3.0,
    min_baseline: int = 5,
) -> DataFrame:
    """Adds ``baseline_median``, ``baseline_sigma`` (IQR/1.349),
    ``rscore``, ``is_anomaly`` — same contract as zscore_anomalies with
    a 25%-breakdown baseline. Quantiles are exact within the window
    (``percentile`` over a rows frame — the frame is ``window`` rows,
    so per-row cost is bounded by the frame, not the series)."""
    w = _frame(group_cols or [], order_col, window)
    x = F.col(value_col)
    med = F.expr(f"percentile({value_col}, 0.5)").over(w)
    p25 = F.expr(f"percentile({value_col}, 0.25)").over(w)
    p75 = F.expr(f"percentile({value_col}, 0.75)").over(w)
    n = F.count(x).over(w)
    sigma = (p75 - p25) / F.lit(1.349)
    r = F.when((n >= min_baseline) & (sigma > 0), (x - med) / sigma)
    return (
        df.withColumn("baseline_median", med)
        .withColumn("baseline_sigma", sigma)
        .withColumn("rscore", r)
        .withColumn(
            "is_anomaly",
            F.coalesce(F.abs(F.col("rscore")) > F.lit(threshold), F.lit(False)),
        )
    )


def seasonal_residuals(
    df: DataFrame,
    value_col: str,
    order_col: str,
    season: int,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Adds ``seasonal_baseline`` (the value one season ago, by ROW
    offset — fill the series' holes first) and ``residual``.
    First-season rows get NULLs."""
    if season < 1:
        raise ValueError(f"season must be >= 1, got {season}")
    w = Window.partitionBy(*(group_cols or [])).orderBy(F.col(order_col).asc())
    base = F.lag(F.col(value_col), season).over(w)
    return df.withColumn("seasonal_baseline", base).withColumn(
        "residual", F.col(value_col) - base
    )
