"""Query catalog.

Each submodule exposes ``QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]]``
and ``ORACLE: dict[str, str]`` (DuckDB-runnable ANSI SQL over the same parquet
views). ``all_queries()`` / ``all_oracle_sql()`` merge them for
``__spark_entry__``.

Float policy: any column produced by an order-sensitive float aggregation
(sum/avg over doubles) is rounded to 4 decimals on BOTH sides so the driver's
value-hash is immune to summation-order ulp differences between Spark and
DuckDB. Per-row arithmetic is IEEE-deterministic and left unrounded.
"""

from __future__ import annotations

from . import advanced, northstar, pipeline, relational, retrieval_tier, tpch

# Catalog is capped at 50 entries (the driver's correctness window records
# exactly the first 50 in iteration order — every entry must land a row).
# northstar (the LLM-data-pipeline surface) merges BEFORE advanced so those
# operators sit well inside the window regardless of future growth.
_MODULES = (relational, pipeline, northstar, advanced)

# Oracle-checked tiers OUTSIDE the driver window (same parity bar, pinned by
# the local harness instead): plans/tpch.py completes TPC-H Q8/Q11-Q22;
# plans/retrieval_tier.py pins the BM25 ranking math (r12).
_EXTENDED_MODULES = (tpch, retrieval_tier)


def all_queries():
    merged = {}
    for mod in _MODULES:
        merged.update(mod.QUERIES)
    return merged


def all_oracle_sql():
    merged = {}
    for mod in _MODULES:
        merged.update(mod.ORACLE)
    return merged


def extended_queries():
    """Driver catalog + the oracle-checked tiers beyond the 50-row window."""
    merged = all_queries()
    for mod in _EXTENDED_MODULES:
        merged.update(mod.QUERIES)
    return merged
