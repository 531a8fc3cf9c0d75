"""CCNet-style LM quality scoring (operators/lm_score.py). Extension
surface: fluency scoring against a trusted reference corpus, complementing
the structural Gopher/C4 bundles in quality_rules.py."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import math

import pytest
from pyspark.sql import functions as F

from binance_data_pipeline_spark.operators.lm_score import (
    filter_by_lm,
    lm_cross_entropy,
    train_ngram_lm,
)


@pytest.fixture(scope="module")
def ref_lm(spark):
    """Tiny 'trusted' English corpus — fluent sentences."""
    ref = spark.createDataFrame(
        [
            (i, "the quick brown fox jumps over the lazy dog near the river bank")
            for i in range(20)
        ]
        + [(100 + i, "a model of the data is trained on the corpus of documents") for i in range(20)],
        "doc_id long, text string",
    )
    return train_ngram_lm(ref, vocab_size=1000, add_k=0.5)


def test_lm_probabilities_sum_below_one(spark, ref_lm):
    """Add-k smoothing leaves headroom: vocab mass + OOV mass ≤ 1."""
    rows = ref_lm.collect()
    vocab_mass = sum(math.exp(r["logp"]) for r in rows if r["token"] != "__OOV__")
    assert 0.5 < vocab_mass < 1.0


def test_fluent_scores_below_gibberish(spark, ref_lm):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),   # in-distribution
            (2, "zxqv wfpt blorg qqnnx vrm zzkt plwq xxj"),       # gibberish (all OOV)
            (3, "the model of the data the corpus the documents"),  # common tokens
        ],
        "doc_id long, text string",
    )
    s = {r["doc_id"]: r for r in lm_cross_entropy(docs, ref_lm).collect()}
    assert s[1]["cross_entropy"] < s[2]["cross_entropy"]
    assert s[3]["cross_entropy"] < s[2]["cross_entropy"]
    assert s[2]["oov_rate"] == 1.0
    assert s[1]["oov_rate"] < 0.2
    assert s[1]["n_scored"] == 9


def test_cross_entropy_matches_hand_computation(spark):
    """Exact check on a 2-token vocabulary: ce = mean −log p(token)."""
    ref = spark.createDataFrame(
        [(1, "aa aa aa bb")], "doc_id long, text string"
    )
    lm = train_ngram_lm(ref, vocab_size=10, add_k=1.0)
    # counts: aa=3, bb=1, N=4, V=2 → denom = 4 + 1*3 = 7
    p = {r["token"]: math.exp(r["logp"]) for r in lm.collect()}
    assert abs(p["aa"] - 4 / 7) < 1e-9
    assert abs(p["bb"] - 2 / 7) < 1e-9
    assert abs(p["__OOV__"] - 1 / 7) < 1e-9
    docs = spark.createDataFrame([(9, "aa bb cc")], "doc_id long, text string")
    got = lm_cross_entropy(docs, lm).first()
    want = -(math.log(4 / 7) + math.log(2 / 7) + math.log(1 / 7)) / 3
    assert abs(got["cross_entropy"] - want) < 1e-9
    assert abs(got["oov_rate"] - 1 / 3) < 1e-9


def test_bigram_mode(spark, ref_lm):
    ref = spark.createDataFrame(
        [(i, "to be or not to be that is the question") for i in range(10)],
        "doc_id long, text string",
    )
    lm2 = train_ngram_lm(ref, n=2, vocab_size=100)
    docs = spark.createDataFrame(
        [(1, "to be or not to be"), (2, "be to not or be to")],
        "doc_id long, text string",
    )
    s = {r["doc_id"]: r for r in lm_cross_entropy(docs, lm2, n=2).collect()}
    # same unigrams, reversed order: only the bigram LM separates them
    assert s[1]["cross_entropy"] < s[2]["cross_entropy"]


def test_filter_by_lm_and_plan(spark, ref_lm):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "zxqv wfpt blorg qqnnx vrm zzkt plwq xxj"),
        ],
        "doc_id long, text string",
    )
    s = {r["doc_id"]: r["cross_entropy"] for r in lm_cross_entropy(docs, ref_lm).collect()}
    cut = (s[1] + s[2]) / 2
    kept = filter_by_lm(docs, ref_lm, max_cross_entropy=cut)
    assert [r["doc_id"] for r in kept.collect()] == [1]
    # scoring stays JVM-side with a broadcast LM join
    from binance_data_pipeline_spark.plans.audit import audit_plan

    scores = lm_cross_entropy(docs, ref_lm)
    errors = [f for f in audit_plan(scores) if f.severity == "error"]
    assert not errors, errors
    plan = scores._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "EvalPython" not in plan
