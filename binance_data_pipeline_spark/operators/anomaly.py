"""Time-series anomaly flags — the monitoring layer over the series
operators (the caller builds a dense series; this scores it). One
standard detector, single-window-pass, JVM-only:

- ``zscore_anomalies``: rolling mean/std over the PRECEDING ``window``
  rows (the current row never contaminates its own baseline — the
  classic self-masking mistake), flag |z| > threshold.

One Window spec per call (partition by the series keys, order by time,
rows frame) — one sort exchange per series, reused across every
aggregate in the pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["zscore_anomalies"]


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
