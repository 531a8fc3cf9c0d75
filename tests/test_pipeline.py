"""End-to-end pipeline tests: envelope parse → bronze → staging →
incremental fact → revenue fact, with the reference's exact edge semantics
(malformed drop, coerce-to-null, late-data drop, unique_key dedup)."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

from datetime import date

import pytest
from pyspark.sql import functions as F

from binance_data_pipeline_spark.operators.cleaning import (
    bronze_to_staging,
    raw_to_bronze,
    staging_schema_check,
)
from binance_data_pipeline_spark.operators.incremental import incremental_append
from binance_data_pipeline_spark.operators.revenue import build_fact_fee_tax, run as revenue_run
from binance_data_pipeline_spark.quality import run_checks, trade_table_checks, unique
from binance_data_pipeline_spark.sources.csv_rules import rules_from_rows
from binance_data_pipeline_spark.sources.json_envelope import parse_envelope, to_kafka_payload

import fixtures as FX


@pytest.fixture(scope="module")
def raw_df(spark):
    return spark.createDataFrame([(v,) for v in FX.raw_ws_messages()], "value string")


@pytest.fixture(scope="module")
def bronze_df(spark):
    wire = spark.createDataFrame(FX.bronze_rows())
    return raw_to_bronze(wire)


def test_envelope_parse_drops_noise(spark, raw_df):
    flat = parse_envelope(raw_df)
    assert flat.count() == FX.expected_trade_count()
    # missing fields arrive as nulls, not errors
    assert flat.where(F.col("quantity").isNull()).count() > 0
    # all rows are trade events
    assert flat.where(F.col("event_type") != "trade").count() == 0


def test_kafka_payload_roundtrip(spark, raw_df):
    flat = parse_envelope(raw_df)
    payload = to_kafka_payload(flat)
    assert payload.columns == ["key", "value"]
    # key is the symbol; value round-trips through from_json
    row = payload.first()
    assert row["key"] in ("BTCUSDT", "ETHUSDT", "BNBUSDT")
    assert '"event_type":"trade"' in row["value"]


def test_raw_to_bronze_partition_cols(bronze_df):
    # per-row partition derivation: event_date/hour match event_time per row
    bad = bronze_df.where(
        (F.to_date("event_time") != F.col("event_date"))
        | (F.lpad(F.hour("event_time").cast("string"), 2, "0") != F.col("hour"))
    )
    assert bad.count() == 0


def test_staging_coerce_to_null(bronze_df):
    stg = bronze_to_staging(bronze_df)
    staging_schema_check(stg)
    # "n/a" prices → null doubles, not errors (pandas to_numeric parity)
    assert stg.where(F.col("price").isNull()).count() == 10
    assert dict(stg.dtypes)["price"] == "double"


def test_quality_checks_flag_dupes(bronze_df):
    results = run_checks(trade_table_checks(bronze_df))
    by_name = {r.name: r for r in results}
    assert not by_name["trade_id_unique"].passed  # fixture has dupes
    assert by_name["trade_id_not_null"].passed


def test_declarative_suite_yaml_roundtrip(bronze_df):
    """GE-style declarative suite: YAML → compile → run. Violations and
    passes land exactly where the imperative checks put them, and typos
    fail at compile time instead of silently skipping."""
    import pytest

    from binance_data_pipeline_spark.quality import run_suite, suite_from_yaml

    suite = suite_from_yaml(
        """
        columns:
          trade_id: [unique, not_null]
          price:    [{accepted_range: {lo: 0}}]
          symbol:   [{accepted_values: {values: [BTCUSDT, ETHUSDT, BNBUSDT]}}]
        row_count: {min: 1}
        """
    )
    # suites run on TYPED tables (staging), like the reference's dbt tests:
    # range checks on a raw string column would be a schema bug, not a
    # quality result
    typed = bronze_to_staging(bronze_df)
    by_name = {r.name: r for r in run_suite(typed, suite)}
    assert set(by_name) == {
        "trade_id_unique", "trade_id_not_null", "price_accepted_range",
        "symbol_accepted_values", "row_count",
    }
    assert not by_name["trade_id_unique"].passed   # fixture plants dupes
    assert by_name["trade_id_not_null"].passed
    assert by_name["symbol_accepted_values"].passed
    assert by_name["row_count"].passed

    with pytest.raises(ValueError, match="unknown expectation"):
        run_suite(typed, {"columns": {"trade_id": ["uniqe"]}})
    with pytest.raises(AssertionError, match="row_count"):
        run_suite(typed, {"row_count": {"min": 10**9}}, fail_fast=True)


def test_incremental_semantics(spark, bronze_df, tmp_path):
    fact_path = str(tmp_path / "fact_trades")
    stg = bronze_to_staging(bronze_df)

    # first run: full load, dupes collapsed
    n1 = incremental_append(spark, stg, fact_path)
    fact = spark.read.parquet(fact_path)
    assert n1 == fact.count()
    assert unique(fact, "trade_id").count() == 0  # unique_key dedup held

    # re-run with identical input: idempotent (everything <= hwm)
    n2 = incremental_append(spark, stg, fact_path)
    assert n2 == 0

    # late row below the watermark: silently dropped (reference parity)
    hwm_row = stg.agg(F.max("event_time").alias("m")).first()["m"]
    late = spark.createDataFrame(
        [("999999", "BTCUSDT", 1.0, 1.0)],
        "trade_id string, symbol string, price double, quantity double",
    ).select(
        "trade_id", "symbol", "price", "quantity",
        F.lit(hwm_row - F.expr("INTERVAL 10 DAYS")).cast("timestamp").alias("event_time"),
        F.to_date(F.lit("2024-06-01")).alias("event_date"),
    )
    n3 = incremental_append(spark, late, fact_path)
    assert n3 == 0  # dropped: documented late-data semantics (P8/ST5)

    # keep-policy variant: the late row lands exactly once
    n4 = incremental_append(spark, late, fact_path, late_policy="keep")
    assert n4 == 1
    n5 = incremental_append(spark, late, fact_path, late_policy="keep")
    assert n5 == 0  # anti-join against existing keys

    # total_notional_usd = price * quantity
    f = spark.read.parquet(fact_path)
    bad = f.where(
        F.abs(F.col("total_notional_usd") - F.col("price") * F.col("quantity")) > 1e-9
    )
    assert bad.count() == 0


def test_revenue_fact(spark, bronze_df, tmp_path):
    stg = bronze_to_staging(bronze_df).where(F.col("price").isNotNull())
    silver = (
        stg.groupBy("event_date", "symbol")
        .agg(F.sum(F.col("price") * F.col("quantity")).alias("traded_notional"))
    )
    rules = rules_from_rows(spark, FX.RULES_ROWS)
    some_date = silver.select("event_date").orderBy("event_date").first()["event_date"]

    fact = revenue_run(silver, rules, some_date, str(tmp_path / "fee_tax"))
    rows = {r["symbol"]: r for r in fact.collect()}

    # one row per symbol that traded that date
    assert set(rows) <= {"BTCUSDT", "ETHUSDT", "BNBUSDT"}
    # unmatched symbol gets defaults (J1 left-join null path)
    if "BNBUSDT" in rows:
        r = rows["BNBUSDT"]
        assert r["region"] == "EU" and r["fee_rate_bps"] == 0.0 and r["total_revenue"] == 0.0
    # fee arithmetic: notional * bps / 10000 (reference-parity names:
    # fee_revenue / tax_collected, build_fact_fee_tax.py:62-63)
    r = rows["BTCUSDT"]
    assert abs(r["fee_revenue"] - r["traded_notional"] * 7.5 / 10000.0) < 1e-9
    assert abs(r["total_revenue"] - (r["fee_revenue"] + r["tax_collected"])) < 1e-12
    # reference output columns are a strict prefix of ours (schema parity)
    assert fact.columns[:6] == [
        "event_date", "symbol", "region", "traded_notional", "fee_revenue", "tax_collected",
    ]
    # output written and partitioned
    out = spark.read.parquet(str(tmp_path / "fee_tax"))
    assert out.count() == fact.count()


def test_build_fact_fee_tax_matches_duckdb(spark, bronze_df):
    """Golden check of the §3.4 math against duckdb on the same slice."""
    import duckdb

    stg = bronze_to_staging(bronze_df).where(F.col("price").isNotNull())
    silver = (
        stg.groupBy("event_date", "symbol")
        .agg(F.round(F.sum(F.col("price") * F.col("quantity")), 6).alias("traded_notional"))
    )
    rules = rules_from_rows(spark, FX.RULES_ROWS)
    fact = build_fact_fee_tax(silver, rules).toPandas()

    sil = silver.toPandas()
    con = duckdb.connect()
    con.register("silver", sil)
    oracle = con.sql(
        """
        WITH rules(symbol, region, fee_rate_bps, tax_rate_bps) AS (
            VALUES ('BTCUSDT','US',7.5,2.0), ('ETHUSDT','EU',5.0,1.0)
        )
        SELECT s.event_date, s.symbol,
               coalesce(r.region, 'EU') AS region,
               sum(s.traded_notional) AS traded_notional,
               coalesce(r.fee_rate_bps, 0.0) AS fee_rate_bps,
               coalesce(r.tax_rate_bps, 0.0) AS tax_rate_bps
        FROM silver s LEFT JOIN rules r USING (symbol)
        GROUP BY 1, 2, 3, 5, 6
        """
    ).df()
    a = fact.sort_values(["event_date", "symbol"], ignore_index=True)
    b = oracle.sort_values(["event_date", "symbol"], ignore_index=True)
    assert len(a) == len(b)
    assert (a["region"].values == b["region"].values).all()
    assert (abs(a["traded_notional"].values - b["traded_notional"].values) < 1e-6).all()


def test_daily_backfill_job_idempotent(spark, tmp_path):
    """The daily DAG equivalent: run twice with the same logical date — the
    second run must append nothing (HWM + unique_key dedup, ST5)."""
    from datetime import date

    from binance_data_pipeline_spark.jobs import daily_backfill_and_transform
    from binance_data_pipeline_spark.sources.rest_backfill import fake_fetcher_from_events

    bronze = str(tmp_path / "bronze")
    fact = str(tmp_path / "fact")
    fetcher = fake_fetcher_from_events(rows_per_cell=40)

    r1 = daily_backfill_and_transform(
        spark, date(2024, 6, 10), ["BTCUSDT", "ETHUSDT"], fetcher, bronze, fact
    )
    assert r1.rows_ingested == 6 * 40
    assert r1.rows_appended > 0
    assert r1.ok, [c.name for c in r1.checks if not c.passed]

    # identical re-run: bronze doubles (append) but the fact is unchanged
    r2 = daily_backfill_and_transform(
        spark, date(2024, 6, 10), ["BTCUSDT", "ETHUSDT"], fetcher, bronze, fact
    )
    assert r2.rows_appended == 0
    assert r2.ok
    n_fact = spark.read.parquet(fact).count()
    assert n_fact == r1.rows_appended


def test_run_with_retries_flaky_job_recovers():
    """Reference parity: every Airflow DAG runs with retries=1 /
    retry_delay=5min (airflow/dags/binance_dbt_dag.py:11-12). A job whose
    first attempt raises must succeed on the retry, honoring the delay via
    the injected sleep (no wall-clock wait)."""
    from binance_data_pipeline_spark.jobs import run_with_retries

    calls = {"n": 0}
    slept: list[float] = []

    def flaky():
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient: connection reset")
        return "report"

    out = run_with_retries(flaky, retries=1, retry_delay_s=300.0, sleep=slept.append)
    assert out == "report"
    assert calls["n"] == 2
    assert slept == [300.0]


def test_run_with_retries_exhausted_reraises():
    """Retries exhausted → the last exception propagates (Airflow marks the
    task failed after its final retry)."""
    import pytest as _pytest

    from binance_data_pipeline_spark.jobs import run_with_retries

    calls = {"n": 0}

    def always_fails():
        calls["n"] += 1
        raise ValueError("permanent")

    with _pytest.raises(ValueError, match="permanent"):
        run_with_retries(always_fails, retries=2, retry_delay_s=1.0, sleep=lambda _: None)
    assert calls["n"] == 3  # initial + 2 retries


def test_kafka_roundtrip_closes_loop(spark, raw_df):
    """envelope → to_kafka_payload → parse_flat_record must equal the
    direct parse (the producer→Kafka→bronze-consumer loop, §3.1)."""
    from binance_data_pipeline_spark.sources.json_envelope import parse_flat_record

    direct = parse_envelope(raw_df)
    via_kafka = parse_flat_record(
        to_kafka_payload(direct).select(F.col("value"))
    )
    a = sorted(direct.select("trade_id", "symbol", "price", "event_time").collect())
    b = sorted(via_kafka.select("trade_id", "symbol", "price", "event_time").collect())
    assert a == b


def test_merge_upsert_updates_matched_keys(spark, tmp_path):
    """MERGE semantics: a re-sent key with newer data replaces the old row;
    untouched partitions stay intact."""
    from binance_data_pipeline_spark.operators.incremental import merge_upsert

    path = str(tmp_path / "merge_fact")
    base = spark.createDataFrame(
        [
            ("t1", "BTCUSDT", 100.0, "2024-06-10 10:00:00", "2024-06-10"),
            ("t2", "ETHUSDT", 200.0, "2024-06-10 11:00:00", "2024-06-10"),
            ("t3", "BTCUSDT", 300.0, "2024-06-11 10:00:00", "2024-06-11"),
        ],
        "trade_id string, symbol string, price double, event_time string, event_date string",
    ).select(
        "trade_id", "symbol", "price",
        F.col("event_time").cast("timestamp").alias("event_time"),
        F.col("event_date").cast("date").alias("event_date"),
    )
    merge_upsert(spark, base, path)
    assert spark.read.parquet(path).count() == 3

    # update t1 (same key, newer ts, new price); add t4; day 2024-06-11 untouched
    upd = spark.createDataFrame(
        [
            ("t1", "BTCUSDT", 150.0, "2024-06-10 12:00:00", "2024-06-10"),
            ("t4", "BNBUSDT", 50.0, "2024-06-10 13:00:00", "2024-06-10"),
        ],
        "trade_id string, symbol string, price double, event_time string, event_date string",
    ).select(
        "trade_id", "symbol", "price",
        F.col("event_time").cast("timestamp").alias("event_time"),
        F.col("event_date").cast("date").alias("event_date"),
    )
    merge_upsert(spark, upd, path)
    rows = {r["trade_id"]: r for r in spark.read.parquet(path).collect()}
    assert len(rows) == 4
    assert rows["t1"]["price"] == 150.0  # replaced, not duplicated
    assert rows["t3"]["price"] == 300.0  # untouched partition preserved
