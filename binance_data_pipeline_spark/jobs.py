"""Job entry points — the engine-side equivalents of the reference's
Airflow DAGs (SURVEY §1.1: DAG edges become function-call order; scheduling
stays external, exactly as dbt/Airflow are external to BigQuery).

daily_backfill_and_transform ≡ binance_revenue_dag (airflow/dags/
binance_revenue_dag.py:43-82): 3-day REST re-ingest → staging → incremental
fact → quality gate. Idempotent by construction: the re-ingested window
lands only rows above the fact's high watermark, and unique_key dedup
collapses re-pulls — re-running the job is a no-op (the reference leans on
the same two mechanisms, ST5).

hourly_transform ≡ binance_dbt_dag (dbt run → dbt test hourly): staging →
incremental → quality over whatever new bronze arrived.
"""

from __future__ import annotations

import logging
import time
from dataclasses import dataclass
from datetime import date
from typing import Callable, TypeVar

from pyspark.sql import SparkSession

from .operators.cleaning import bronze_to_staging, raw_to_bronze
from .operators.incremental import incremental_append
from .quality import CheckResult, run_checks, trade_table_checks
from .sources.rest_backfill import Fetcher, fetch_grid, fetch_trades

_log = logging.getLogger(__name__)

T = TypeVar("T")


@dataclass
class JobReport:
    rows_ingested: int
    rows_appended: int
    checks: list[CheckResult]

    @property
    def ok(self) -> bool:
        return all(c.passed for c in self.checks)


def run_with_retries(
    job: Callable[[], T],
    retries: int = 1,
    retry_delay_s: float = 300.0,
    backoff: float = 1.0,
    sleep: Callable[[float], None] = time.sleep,
) -> T:
    """Opt-in retry wrapper for job entry points — the engine-side twin of
    the reference's Airflow default_args (``retries: 1, retry_delay:
    timedelta(minutes=5)``, airflow/dags/binance_dbt_dag.py:11-12). Every
    job here is idempotent by construction (HWM + unique-key dedup, module
    docstring), so a retry after a transient failure is safe: the re-run
    converges to the same table state.

    ``backoff`` multiplies the delay each attempt (1.0 = Airflow's fixed
    delay). ``sleep`` is injectable so tests don't wait wall-clock time.
    Raises the last exception once retries are exhausted.

        report = run_with_retries(
            lambda: daily_backfill_and_transform(spark, d, syms, f, b, fct))
    """
    attempt = 0
    delay = retry_delay_s
    while True:
        try:
            return job()
        except Exception as exc:  # noqa: BLE001 — job boundary, rethrown when exhausted
            if attempt >= retries:
                raise
            attempt += 1
            _log.warning(
                "job attempt %d/%d failed (%s); retrying in %.0fs",
                attempt, retries + 1, exc, delay,
            )
            sleep(delay)
            delay *= backoff


def daily_backfill_and_transform(
    spark: SparkSession,
    logical_date: date,
    symbols: list[str],
    fetcher: Fetcher,
    bronze_path: str,
    fact_path: str,
    lookback_days: int = 3,
    hours: tuple[int, ...] = (12,),
) -> JobReport:
    """The daily DAG: fetch grid → distributed REST pull → bronze append →
    staging → incremental fact → quality gate (test stage runs AFTER the
    transform, like dbt_run >> dbt_test)."""
    grid = fetch_grid(spark, logical_date, symbols, lookback_days, hours)
    wire = fetch_trades(grid, fetcher)
    # REST aggTrades carry trade_time only; event_time := trade_time (the
    # reference derives event fields the same way, ingest_...py:54-59)
    wire = wire.withColumnRenamed("trade_time", "event_time")
    bronze_inc = raw_to_bronze(wire)
    n_ingested = bronze_inc.count()
    if n_ingested:
        bronze_inc.write.mode("append").partitionBy("event_date", "hour").parquet(bronze_path)

    bronze = spark.read.parquet(bronze_path)
    staging = bronze_to_staging(bronze)
    n_appended = incremental_append(spark, staging, fact_path)
    checks = run_checks(trade_table_checks(spark.read.parquet(fact_path)))
    return JobReport(n_ingested, n_appended, checks)


def hourly_transform(spark: SparkSession, bronze_path: str, fact_path: str) -> JobReport:
    """The hourly DAG: staging → incremental → test, no ingest stage."""
    staging = bronze_to_staging(spark.read.parquet(bronze_path))
    n = incremental_append(spark, staging, fact_path)
    checks = run_checks(trade_table_checks(spark.read.parquet(fact_path)))
    return JobReport(0, n, checks)
