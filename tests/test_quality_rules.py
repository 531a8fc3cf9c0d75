"""Gopher/C4 quality-rule bundles and per-domain filtering: rule flags
fire on the right pathologies, domain thresholds override the default,
and the gate is broadcast-join + map-side only."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import pytest
from pyspark.sql import functions as F

from binance_data_pipeline_spark.operators.quality_rules import (
    c4_flags,
    filter_by_domain,
    gopher_flags,
)

GOOD = (
    "The engine reads partitioned parquet files and prunes row groups "
    "using footer statistics. Columns are projected before the scan so "
    "the reader touches only the bytes a query needs. Joins broadcast "
    "their small side when the optimizer's estimate stays under the "
    "configured threshold, and the adaptive planner can still change "
    "strategy at runtime. This is the shape of a plan that survives a "
    "hundredfold growth in data volume without melting the cluster."
)
BULLETY = "\n".join(f"- item {i}" for i in range(20))
SYMBOLS = "### " * 60 + "hash marks everywhere"
CODE = 'function f() { return "not prose"; }'
LOREM = "lorem ipsum dolor sit amet " * 20


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_gopher_flags_fire_on_pathologies(spark):
    df = _docs(
        spark,
        [(1, GOOD, "a"), (2, BULLETY, "a"), (3, SYMBOLS, "a"), (4, "too short", "a")],
    ).select("doc_id", gopher_flags("text").alias("g"))
    got = {r["doc_id"]: r["g"].asDict() for r in df.collect()}
    assert got[1]["pass"] is True
    assert got[2]["bullet_lines_ok"] is False  # every line is a bullet
    assert got[3]["symbol_ratio_ok"] is False
    assert got[4]["word_count_ok"] is False
    assert not got[2]["pass"] and not got[3]["pass"] and not got[4]["pass"]


def test_c4_flags_fire_on_pathologies(spark):
    df = _docs(
        spark,
        [(1, GOOD, "a"), (2, CODE, "a"), (3, LOREM, "a"),
         (4, "no terminal punctuation here\nnor here\nnor on this line", "a")],
    ).select("doc_id", c4_flags("text", badwords=["dolor"]).alias("c"))
    got = {r["doc_id"]: r["c"].asDict() for r in df.collect()}
    assert got[1]["pass"] is True
    assert got[2]["no_braces"] is False
    assert got[3]["no_lorem"] is False and got[3]["no_badwords"] is False
    assert got[4]["terminal_punct_ok"] is False and got[4]["sentences_ok"] is False


def test_filter_by_domain_overrides_default(spark):
    """A permissive default keeps short docs; a strict per-domain rule
    drops them for that domain only."""
    df = _docs(
        spark,
        [
            (1, GOOD, "web"), (2, "short text", "web"),
            (3, GOOD, "books"), (4, "short text", "books"),
        ],
    )
    kept = filter_by_domain(
        df,
        {"*": {}, "books": {"min_tokens": 20}},
    )
    assert {r["doc_id"] for r in kept.collect()} == {1, 2, 3}
    # require_gopher for web drops the short doc there too
    kept2 = filter_by_domain(
        df, {"*": {}, "web": {"require_gopher": True}}
    )
    assert {r["doc_id"] for r in kept2.collect()} == {1, 3, 4}
    assert kept.columns == df.columns


def test_filter_by_domain_validates_rules(spark):
    df = _docs(spark, [(1, GOOD, "web")])
    with pytest.raises(ValueError, match='"\\*" default'):
        filter_by_domain(df, {"web": {}})
    with pytest.raises(ValueError, match="unknown rule keys"):
        filter_by_domain(df, {"*": {"min_tokensss": 1}})


def test_filter_by_domain_is_broadcast_map_only(spark):
    """The gate must plan as broadcast joins over one map-side pass —
    zero shuffle exchanges (at 100 TB a shuffle here doubles the cost of
    the cheapest stage in the pipeline)."""
    df = _docs(spark, [(1, GOOD, "web")])
    out = filter_by_domain(df, {"*": {}, "web": {"min_tokens": 5}})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Exchange hashpartitioning" not in plan and "Exchange rangepartitioning" not in plan


def test_filter_on_real_documents_table(spark):
    """The gate runs over the real documents fixture and is stable under
    re-partitioning (pure per-row decision)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rules = {"*": {"min_tokens": 5, "min_quality": 0.3},
             "src1": {"max_repetition": 0.2}}
    a = filter_by_domain(docs, rules).count()
    b = filter_by_domain(docs.repartition(7), rules).count()
    assert a == b and 0 < a <= docs.count()
