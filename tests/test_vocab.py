"""Vocabulary statistics: frequency counts match a hand count and a
DuckDB cross-check, exact vs approx doc frequency agree on small data,
and the aggregation plans with map-side partial combine (the token-skew
defense)."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import duckdb
import pytest

from binance_data_pipeline_spark.operators.vocab import token_frequencies


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog sat"),
            (3, "a mat and a cat"),
        ],
        "doc_id long, text string",
    )


def test_token_frequencies_hand_count(spark):
    got = {
        r["token"]: (r["count"], r["doc_count"])
        for r in token_frequencies(_docs(spark), exact_doc_freq=True).collect()
    }
    assert got["the"] == (3, 2)
    assert got["cat"] == (2, 2)
    assert got["sat"] == (2, 2)
    assert got["a"] == (2, 1)
    assert sum(c for c, _ in got.values()) == 6 + 3 + 5  # all tokens counted


def test_token_frequencies_matches_duckdb(spark):
    """Cross-engine check on the real documents fixture: identical
    (token, count) multiset for whitespace tokenization."""
    path = "/root/testdata/sf0.001/documents.parquet"
    ours = {
        r["token"]: r["count"]
        for r in token_frequencies(
            spark.read.parquet(path), min_count=5
        ).collect()
    }
    duck = duckdb.sql(
        f"""
        select t as token, count(*) as c
        from (select unnest(string_split_regex(trim(lower(text)), '\\s+')) as t
              from read_parquet('{path}'))
        group by 1 having count(*) >= 5
        """
    ).df()
    theirs = dict(zip(duck["token"], duck["c"]))
    assert ours == theirs


def test_ngram_frequencies(spark):
    got = {
        r["token"]: r["count"]
        for r in token_frequencies(_docs(spark), n=2, exact_doc_freq=True).collect()
    }
    assert got["the cat"] == 1 and got["sat on"] == 1
    assert "mat the" not in got  # n-grams don't cross documents


def test_approx_doc_freq_close_to_exact(spark):
    exact = {
        r["token"]: r["doc_count"]
        for r in token_frequencies(_docs(spark), exact_doc_freq=True).collect()
    }
    approx = {
        r["token"]: r["doc_count"]
        for r in token_frequencies(_docs(spark)).collect()
    }
    assert set(exact) == set(approx)
    assert all(abs(exact[t] - approx[t]) <= 1 for t in exact)


def test_frequency_agg_has_partial_combine(spark):
    """The token aggregation MUST plan two HashAggregate phases (partial
    + final) — without map-side combine, 'the' at 100 TB concentrates
    its entire weight on one reducer."""
    plan = (
        token_frequencies(_docs(spark))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan or "partial_" in plan


def test_tokenizer_validation(spark):
    with pytest.raises(ValueError, match="tokenizer"):
        token_frequencies(_docs(spark), tokenizer="nope").collect()
