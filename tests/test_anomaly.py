"""Anomaly detector: planted spikes flagged, self-masking avoided,
warm-up NULLs, and a DuckDB cross-check of the z-score arithmetic."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

from binance_data_pipeline_spark.operators.anomaly import zscore_anomalies


def _series(spark, values, key="s"):
    return spark.createDataFrame(
        [(key, i, float(v)) for i, v in enumerate(values)],
        "series string, t int, x double",
    )


def test_spike_flagged_and_warmup_null(spark):
    vals = [10, 10.5, 9.8, 10.2, 10.1, 9.9, 10.3, 100.0, 10.0]
    out = {
        r["t"]: r
        for r in zscore_anomalies(
            _series(spark, vals), "x", "t", ["series"], window=6, min_baseline=4
        ).collect()
    }
    assert out[7]["is_anomaly"] is True and out[7]["zscore"] > 3
    # warm-up rows: too little history, NULL score, not flagged
    for t in (0, 1, 2, 3):
        assert out[t]["zscore"] is None and out[t]["is_anomaly"] is False
    # the row AFTER the spike: baseline now contains the spike but the
    # row itself is normal -> not flagged
    assert out[8]["is_anomaly"] is False


def test_baseline_excludes_current_row(spark):
    """Self-masking check: a huge value must not shrink its own z-score
    by inflating the baseline std it is judged against."""
    vals = [10, 10, 10, 10, 10, 1000.0]
    out = {
        r["t"]: r
        for r in zscore_anomalies(
            _series(spark, vals), "x", "t", ["series"], window=5, min_baseline=3
        ).collect()
    }
    # preceding-window baseline has zero variance -> NULL (can't score),
    # but crucially the row's own value contributed nothing
    assert out[5]["baseline_std"] == 0.0 and out[5]["zscore"] is None


def test_zscore_matches_duckdb(spark):
    import duckdb
    import random

    rng = random.Random(5)
    vals = [rng.gauss(50, 3) for _ in range(60)]
    df = _series(spark, vals)
    got = {
        r["t"]: (r["baseline_mean"], r["baseline_std"], r["zscore"])
        for r in zscore_anomalies(df, "x", "t", ["series"], window=10, min_baseline=5).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE s AS SELECT * FROM (VALUES "
        + ",".join(f"({i}, {v!r}::DOUBLE)" for i, v in enumerate(vals))
        + ") AS t(t, x)"
    )
    oracle = {
        t: (m, sd, z)
        for t, m, sd, z in con.execute(
            """
            SELECT t,
                   avg(x) OVER w,
                   stddev_samp(x) OVER w,
                   CASE WHEN count(x) OVER w >= 5 AND stddev_samp(x) OVER w > 0
                        THEN (x - avg(x) OVER w) / (stddev_samp(x) OVER w) END
            FROM s
            WINDOW w AS (ORDER BY t ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
            """
        ).fetchall()
    }
    for t, (m, sd, z) in oracle.items():
        gm, gsd, gz = got[t]
        for a, b in ((m, gm), (sd, gsd), (z, gz)):
            if a is None or b is None:
                assert a is None and b is None, (t, a, b)
            else:
                assert abs(a - b) < 1e-9, (t, a, b)
