"""Pipeline-shaped queries: the reference's medallion semantics expressed
over the driver's ``events`` stream table (events ≈ trades, event_type ≈
symbol, value ≈ traded notional, ts ≈ event_time).

Covers, hash-checked against the DuckDB oracle:
  - staging clean/cast projection  (P1-P6, stg_binance_trades.sql:5-15)
  - high-watermark incremental filter (P8, fact_trades.sql:25-27)
  - exact dedup on a business key (ST5 / dbt unique_key, fact_trades.sql:4)
  - the §3.4 revenue path: group-sum → broadcast left join dim → defaults →
    bps arithmetic (build_fact_fee_tax.py:47-73)
  - sessionization and OHLCV bars (ST6 north-star analytics, batch form;
    the streaming forms live in streaming/analytics.py)
  - the dbt-test data-quality audit as a query (A4/A5, schema.yml:11-24)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table

# Inline fee/tax rules dimension keyed by event_type (analog of the
# gitignored rules/fee_tax_rules.csv, schema from build_fact_fee_tax.py:40-44).
# 'error' is deliberately absent → exercises the left-join default path
# (region→'EU', rates→0.0, build_fact_fee_tax.py:58-60).
FEE_TAX_RULES_ROWS = [
    ("purchase", "US", 7.5, 2.0),
    ("click", "EU", 1.0, 0.5),
    ("view", "UK", 0.5, 0.25),
    ("signup", "APAC", 3.0, 1.0),
]

_RULES_VALUES_SQL = ", ".join(
    f"('{t}', '{r}', {f}, {x})" for t, r, f, x in FEE_TAX_RULES_ROWS
)


def _rules_df(spark: SparkSession) -> DataFrame:
    """The rules dimension as an inline VALUES relation — the same rows the
    oracle SQL uses, scanned by the JVM with no Python workers (unlike
    ``createDataFrame(list)``, see ``metacache.local_relation``). Bare
    ``7.5`` literals are DECIMAL, hence the DOUBLE casts."""
    return spark.sql(
        "SELECT event_type, region, CAST(fee_rate_bps AS DOUBLE) AS fee_rate_bps,"
        " CAST(tax_rate_bps AS DOUBLE) AS tax_rate_bps"
        f" FROM VALUES {_RULES_VALUES_SQL}"
        " AS rules(event_type, region, fee_rate_bps, tax_rate_bps)"
    )


def q_stg_events_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staging projection (P4/P5): id→string cast, event-time→date/hour
    derivation, JSON field extraction from the props payload — the
    stg_binance_trades rename/cast shape. All columns JVM-side; the JSON
    probe is get_json_object (no Python)."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        F.col("event_id").cast("string").alias("event_id"),
        F.col("user_id").cast("string").alias("user_id"),
        F.col("event_type"),
        F.to_date("ts").alias("event_date"),
        F.lpad(F.hour("ts").cast("string"), 2, "0").alias("event_hour"),
        F.col("value").cast("double").alias("value"),
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
    )


def q_incremental_hwm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-watermark incremental filter (P8): read a scalar watermark, keep
    only rows strictly above it — the dbt is_incremental() pattern
    (fact_trades.sql:25-27), including its silent late-data drop. The
    watermark read is a driver-side scalar (one tiny agg job), then the main
    scan prunes with an ordinary pushed-down predicate."""
    e = load_table(spark, sf_dir, "events")
    hwm = (
        e.where(F.col("event_type") == "signup")
        .agg(F.max("ts").alias("hwm"))
        .first()["hwm"]
    )
    return (
        e.where(F.col("ts") > F.lit(hwm))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_new"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a business key, deterministic keeper: first event per
    (user_id, event_type) by (ts, event_id) — the unique_key merge semantics
    of fact_trades.sql:4 made order-deterministic via row_number (Spark's
    dropDuplicates keeps an arbitrary row; a fact table wants a defined
    winner)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "value")
    )


def q_fact_fee_tax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship §3.4 revenue path (build_fact_fee_tax.py:47-73):
    daily notional per type (A1) → LEFT JOIN broadcast rules dim (J1) →
    fill defaults (F12) → fee/tax = notional × bps/10000 (F11).

    Scale shape: one shuffle for the (date, type) aggregation; the dim join
    is broadcast so no second shuffle. At 100 TB the agg output is
    ~dates×types rows — trivially small — so the join cost is nil; the only
    heavy stage is the initial scan+partial-agg, which is embarrassingly
    parallel."""
    e = load_table(spark, sf_dir, "events")
    rules = _rules_df(spark)
    daily = (
        e.groupBy(F.to_date("ts").alias("event_date"), "event_type")
        .agg(F.round(F.sum("value"), 4).alias("traded_notional"))
    )
    return (
        daily.join(F.broadcast(rules), "event_type", "left")
        .select(
            "event_date",
            "event_type",
            F.coalesce("region", F.lit("EU")).alias("region"),
            "traded_notional",
            F.coalesce("fee_rate_bps", F.lit(0.0)).alias("fee_rate_bps"),
            F.coalesce("tax_rate_bps", F.lit(0.0)).alias("tax_rate_bps"),
        )
        .withColumn("fee_revenue", F.round(F.col("traded_notional") * F.col("fee_rate_bps") / 10000.0, 4))
        .withColumn("tax_collected", F.round(F.col("traded_notional") * F.col("tax_rate_bps") / 10000.0, 4))
        .withColumn("total_revenue", F.round(F.col("fee_revenue") + F.col("tax_collected"), 4))
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: 30-minute inactivity gap per user (ST6 analog;
    streaming twin uses session_window). lag → new-session flag → running
    sum = session id → per-session rollup. Two window passes + one agg, all
    partitioned by user_id (high cardinality, even spread)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp("ts")
    flagged = e.withColumn(
        "new_session",
        F.when(
            (epoch - F.unix_timestamp(F.lag("ts", 1).over(w))).isNull()
            | ((epoch - F.unix_timestamp(F.lag("ts", 1).over(w))) > 1800),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sessions = flagged.withColumn("session_id", F.sum("new_session").over(wcum))
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("session_value"),
        F.min("event_id").alias("first_event_id"),
        F.max("event_id").alias("last_event_id"),
    )


def q_ohlcv_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLCV bars per event_type (ST6 north-star; the streaming twin
    is a tumbling-window agg). open/close picked by deterministic
    row_number over (ts, event_id) within the bar — avoids first()/last()
    nondeterminism under parallel scan."""
    e = load_table(spark, sf_dir, "events")
    bar = F.date_trunc("hour", F.col("ts")).alias("bar_hour")
    w_asc = Window.partitionBy("event_type", "bar_hour").orderBy("ts", "event_id")
    w_desc = Window.partitionBy("event_type", "bar_hour").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.select("event_type", bar, "ts", "event_id", "value")
        .withColumn("rn_a", F.row_number().over(w_asc))
        .withColumn("rn_d", F.row_number().over(w_desc))
        .groupBy("event_type", "bar_hour")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
            F.round(F.max("value"), 4).alias("high"),
            F.round(F.min("value"), 4).alias("low"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
            F.round(F.sum("value"), 4).alias("volume"),
            F.count(F.lit(1)).alias("n_trades"),
        )
    )


def q_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dbt-test pair (unique + not_null on the business key,
    schema.yml:11-24) as one audit query over events: total rows, distinct
    ids, ids with duplicates, null ids/values. The general runner lives in
    quality.py; this query is its hash-checked face."""
    e = load_table(spark, sf_dir, "events")
    dup_ids = (
        e.groupBy("event_id").count().where(F.col("count") > 1)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("n"))
    )
    return e.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("event_id").alias("n_distinct_ids"),
        F.sum(F.col("event_id").isNull().cast("long")).alias("n_null_ids"),
        F.sum(F.col("value").isNull().cast("long")).alias("n_null_values"),
    ).crossJoin(dup_ids.withColumnRenamed("n", "n_duplicated_ids"))


def q_behavior_funnel_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-analytics pair over the event stream in one tagged result
    (round 6 — the operators landed in round 5 with DuckDB cross-checks
    in tests; this is their hash-checked catalog face):

    - ``funnel`` leg: ordered view→click→purchase conversion
      (first-touch; `operators/behavior.funnel_conversion` — a chain of
      per-user min-aggregates + keyed joins, no whole-table window);
    - ``cohort`` leg: weekly first-event cohorts × period offsets
      (`operators/behavior.cohort_retention` — two aggregates + a join).

    ``ratio`` is the raw IEEE division n_active/n_cohort (both engines
    divide the same exact integers → bit-identical doubles, no rounding
    needed)."""
    from ..operators.behavior import cohort_retention, funnel_conversion

    ev = load_table(spark, sf_dir, "events")
    funnel_leg = funnel_conversion(ev, ["view", "click", "purchase"]).select(
        F.lit("funnel").alias("leg"),
        F.col("step").alias("key"),
        F.col("step_idx").cast("long").alias("k"),
        F.col("n_users").cast("long").alias("n_active"),
        F.lit(None).cast("long").alias("n_cohort"),
        F.lit(None).cast("double").alias("ratio"),
    )
    cohort_leg = cohort_retention(ev, period="week").select(
        F.lit("cohort").alias("leg"),
        F.date_format("cohort", "yyyy-MM-dd").alias("key"),
        F.col("period_offset").cast("long").alias("k"),
        F.col("n_active").cast("long").alias("n_active"),
        F.col("n_cohort").cast("long").alias("n_cohort"),
        (F.col("n_active").cast("double") / F.col("n_cohort")).alias("ratio"),
    )
    return funnel_leg.unionByName(cohort_leg)


def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flags over the event stream, per
    event_type series ordered by event_id (unique — deterministic under
    ties), baseline = the PRECEDING 20 rows only (round 6 catalog face
    of `operators/anomaly.zscore_anomalies`; the arithmetic parity with
    DuckDB window SQL is pinned in tests/test_anomaly.py). One window
    spec = one sort exchange per series; warm-up / zero-variance rows
    carry NULL scores and is_anomaly=false.

    baseline_mean is deliberately NOT in the hashed face: the fixture's
    2-decimal values put the true mean on a cents/(100·n) decimal grid
    whose points routinely sit EXACTLY on 4-decimal rounding boundaries,
    so cross-engine summation-order ulps flip the round (observed 1/1000
    rows at sf0.001). std and zscore are sqrt-quotients — off every
    decimal grid, measure-zero tie risk; the mean arithmetic itself is
    parity-pinned at 1e-9 tolerance in tests/test_anomaly.py."""
    from ..operators.anomaly import zscore_anomalies

    ev = load_table(spark, sf_dir, "events")
    out = zscore_anomalies(
        ev, "value", "event_id", ["event_type"], window=20, min_baseline=5
    )
    return out.select(
        "event_type",
        "event_id",
        F.round("value", 4).alias("value"),
        F.round("baseline_std", 4).alias("baseline_std"),
        F.round("zscore", 4).alias("zscore"),
        "is_anomaly",
    )


QUERIES = {
    "stg_events_clean": q_stg_events_clean,
    "incremental_hwm": q_incremental_hwm,
    "dedup_exact": q_dedup_exact,
    "fact_fee_tax": q_fact_fee_tax,
    "sessionize": q_sessionize,
    "ohlcv_hourly": q_ohlcv_hourly,
    "quality_audit": q_quality_audit,
    "behavior_funnel_cohort": q_behavior_funnel_cohort,
    "anomaly_zscore": q_anomaly_zscore,
}


ORACLE = {
    "stg_events_clean": """
        SELECT event_id::VARCHAR AS event_id,
               user_id::VARCHAR AS user_id,
               event_type,
               ts::DATE AS event_date,
               lpad(hour(ts)::VARCHAR, 2, '0') AS event_hour,
               value::DOUBLE AS value,
               json_extract_string(props, '$.k')::BIGINT AS prop_k
        FROM events
    """,
    "incremental_hwm": """
        SELECT event_type, count(*) AS n_new, round(sum(value), 4) AS sum_value
        FROM events
        WHERE ts > (SELECT max(ts) FROM events WHERE event_type = 'signup')
        GROUP BY event_type
    """,
    "dedup_exact": """
        SELECT user_id, event_type, event_id, value FROM (
            SELECT user_id, event_type, event_id, value,
                   row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) AS rn
            FROM events) t
        WHERE rn = 1
    """,
    "fact_fee_tax": f"""
        WITH rules(event_type, region, fee_rate_bps, tax_rate_bps) AS (
            VALUES {_RULES_VALUES_SQL}
        ),
        daily AS (
            SELECT ts::DATE AS event_date, event_type,
                   round(sum(value), 4) AS traded_notional
            FROM events GROUP BY 1, 2
        ),
        joined AS (
            SELECT d.event_date, d.event_type,
                   coalesce(r.region, 'EU') AS region,
                   d.traded_notional,
                   coalesce(r.fee_rate_bps, 0.0) AS fee_rate_bps,
                   coalesce(r.tax_rate_bps, 0.0) AS tax_rate_bps
            FROM daily d LEFT JOIN rules r USING (event_type)
        )
        SELECT *,
               round(traded_notional * fee_rate_bps / 10000.0, 4) AS fee_revenue,
               round(traded_notional * tax_rate_bps / 10000.0, 4) AS tax_collected,
               round(round(traded_notional * fee_rate_bps / 10000.0, 4)
                     + round(traded_notional * tax_rate_bps / 10000.0, 4), 4) AS total_revenue
        FROM joined
    """,
    "sessionize": """
        WITH flagged AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR floor(epoch(ts))::BIGINT - floor(epoch(lag(ts) OVER w))::BIGINT > 1800
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        numbered AS (
            SELECT *, (sum(new_session) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_id
            FROM flagged
        )
        SELECT user_id, session_id, count(*) AS n_events,
               round(sum(value), 4) AS session_value,
               min(event_id) AS first_event_id,
               max(event_id) AS last_event_id
        FROM numbered GROUP BY user_id, session_id
    """,
    "ohlcv_hourly": """
        WITH numbered AS (
            SELECT event_type,
                   date_trunc('hour', ts)::TIMESTAMP AS bar_hour,
                   ts, event_id, value,
                   row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                      ORDER BY ts, event_id) AS rn_a,
                   row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                      ORDER BY ts DESC, event_id DESC) AS rn_d
            FROM events
        )
        SELECT event_type, bar_hour,
               max(CASE WHEN rn_a = 1 THEN value END) AS open,
               round(max(value), 4) AS high,
               round(min(value), 4) AS low,
               max(CASE WHEN rn_d = 1 THEN value END) AS close,
               round(sum(value), 4) AS volume,
               count(*) AS n_trades
        FROM numbered GROUP BY event_type, bar_hour
    """,
    "behavior_funnel_cohort": """
        WITH s1 AS (SELECT user_id u, min(ts) t1 FROM events
                    WHERE event_type = 'view' GROUP BY 1),
        s2 AS (SELECT e.user_id u, min(e.ts) t2 FROM events e
               JOIN s1 ON e.user_id = s1.u AND e.ts > s1.t1
               WHERE e.event_type = 'click' GROUP BY 1),
        s3 AS (SELECT e.user_id u, min(e.ts) t3 FROM events e
               JOIN s2 ON e.user_id = s2.u AND e.ts > s2.t2
               WHERE e.event_type = 'purchase' GROUP BY 1),
        f AS (SELECT user_id u, min(ts) t0 FROM events GROUP BY 1),
        sizes AS (SELECT date_trunc('week', t0) cb, count(*) n FROM f GROUP BY 1),
        a AS (SELECT DISTINCT e.user_id u, date_trunc('week', f.t0) cb,
                     cast(date_diff('day', cast(date_trunc('week', f.t0) as date),
                          cast(date_trunc('week', e.ts) as date)) / 7 as int) k
              FROM events e JOIN f ON e.user_id = f.u)
        SELECT 'funnel' AS leg, 'view' AS key, 0::BIGINT AS k,
               (SELECT count(*) FROM s1) AS n_active,
               NULL::BIGINT AS n_cohort, NULL::DOUBLE AS ratio
        UNION ALL
        SELECT 'funnel', 'click', 1, (SELECT count(*) FROM s2), NULL, NULL
        UNION ALL
        SELECT 'funnel', 'purchase', 2, (SELECT count(*) FROM s3), NULL, NULL
        UNION ALL
        SELECT 'cohort', strftime(a.cb, '%Y-%m-%d'), a.k::BIGINT,
               count(*), any_value(sizes.n),
               count(*)::DOUBLE / any_value(sizes.n)
        FROM a JOIN sizes ON a.cb = sizes.cb GROUP BY a.cb, a.k
    """,
    "anomaly_zscore": """
        SELECT event_type, event_id,
               round(value, 4) AS value,
               round(stddev_samp(value) OVER w, 4) AS baseline_std,
               round(CASE WHEN count(value) OVER w >= 5
                               AND stddev_samp(value) OVER w > 0
                          THEN (value - avg(value) OVER w)
                               / (stddev_samp(value) OVER w) END, 4) AS zscore,
               coalesce(abs(CASE WHEN count(value) OVER w >= 5
                                      AND stddev_samp(value) OVER w > 0
                                 THEN (value - avg(value) OVER w)
                                      / (stddev_samp(value) OVER w) END) > 3.0,
                        false) AS is_anomaly
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY event_id
                     ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    """,
    "quality_audit": """
        SELECT count(*) AS n_rows,
               count(DISTINCT event_id) AS n_distinct_ids,
               count(*) FILTER (WHERE event_id IS NULL) AS n_null_ids,
               count(*) FILTER (WHERE value IS NULL) AS n_null_values,
               (SELECT count(*) FROM (
                    SELECT event_id FROM events GROUP BY event_id HAVING count(*) > 1)) AS n_duplicated_ids
        FROM events
    """,
}
