"""REST backfill batch source: the fetch-grid planner of
``airflow/dags/ingest_binance_last_3_days.py:105-146`` re-expressed so the
*fetching* parallelizes on the cluster instead of looping on the driver.

Reference semantics:
  - grid = days (3-day lookback) × hours (hour 12 only) × symbols
    (BTCUSDT, ETHUSDT), each cell one REST call of ≤1000 trades
    (``:37-46``), errors → empty list (swallowed)
  - results unioned, cleaned, dual-written

Spark form: build the grid as a small DataFrame, distribute the calls with
``mapInPandas`` (each partition fetches its cells), parse into the wire
schema. The HTTP fetcher is injected — tests (and this offline container)
supply a deterministic fake; production would pass a requests-based one.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from datetime import date, timedelta

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

#: fetcher(symbol, start_ms, end_ms, limit) -> list of aggTrade dicts
#: (Binance /api/v3/aggTrades wire fields: a, p, q, T, m, ...)
Fetcher = Callable[[str, int, int, int], list[dict]]

FETCH_LIMIT = 1000  # reference page limit, ingest_binance_last_3_days.py:37

GRID_SCHEMA = "symbol string, day date, hour int, start_ms long, end_ms long"
RAW_SCHEMA = (
    "symbol string, trade_id long, price string, quantity string, "
    "trade_time long, is_buyer_maker boolean"
)


def fetch_grid(
    spark: SparkSession,
    logical_date: date,
    symbols: list[str],
    lookback_days: int = 3,
    hours: tuple[int, ...] = (12,),
) -> DataFrame:
    """The day×hour×symbol task grid (ingest_binance_last_3_days.py:105-129).

    The reference fetches only hour 12 (``range(12, 13)``, :118) — kept as
    the default for parity; pass ``hours=tuple(range(24))`` for full days.
    """
    rows = []
    for d_off in range(lookback_days):
        day = logical_date - timedelta(days=d_off)
        for hour in hours:
            for sym in symbols:
                start = int(
                    pd.Timestamp(day).tz_localize("UTC").timestamp() * 1000 + hour * 3_600_000
                )
                rows.append((sym, day, hour, start, start + 3_600_000 - 1))
    return spark.createDataFrame(rows, GRID_SCHEMA)


def fetch_trades(grid: DataFrame, fetcher: Fetcher) -> DataFrame:
    """Distributed fetch: each executor partition pulls its grid cells.

    Errors are swallowed per-cell into empty results — the reference prints
    and continues (``:82-83,102-103``); we preserve that at-most-this-cell
    blast radius but the cell is retryable by re-running the job
    (idempotent downstream via incremental dedup).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                try:
                    trades = fetcher(row.symbol, row.start_ms, row.end_ms, FETCH_LIMIT)
                except Exception:
                    trades = []  # parity: swallow, empty cell
                for t in trades:
                    out.append(
                        {
                            "symbol": row.symbol,
                            "trade_id": int(t["a"]),
                            "price": str(t["p"]),
                            "quantity": str(t["q"]),
                            "trade_time": int(t["T"]),
                            "is_buyer_maker": bool(t["m"]),
                        }
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "symbol",
                    "trade_id",
                    "price",
                    "quantity",
                    "trade_time",
                    "is_buyer_maker",
                ],
            )

    return grid.mapInPandas(run, RAW_SCHEMA)


def fake_fetcher_from_events(rows_per_cell: int = 50) -> Fetcher:
    """Deterministic offline fetcher for tests: synthesizes `rows_per_cell`
    aggTrades per grid cell, seeded by (symbol, start_ms). No network."""

    def fetch(symbol: str, start_ms: int, end_ms: int, limit: int) -> list[dict]:
        # stable across processes/executors: builtin hash() of str is
        # PYTHONHASHSEED-randomized per interpreter, crc32 is not
        import zlib

        seed = zlib.crc32(f"{symbol}:{start_ms}".encode()) & 0x7FFFFFFF
        out = []
        for i in range(min(rows_per_cell, limit)):
            x = (seed + i * 2654435761) % (1 << 31)
            price = 100.0 + (x % 10_000) / 100.0
            qty = 0.001 + (x % 997) / 1000.0
            out.append(
                {
                    "a": seed * 10_000 + i,
                    "p": f"{price:.2f}",
                    "q": f"{qty:.3f}",
                    "T": start_ms + (i * (end_ms - start_ms)) // max(rows_per_cell, 1),
                    "m": bool(x & 1),
                }
            )
        return out

    return fetch
