"""Exact-substring dedup (operators/substring.py) — the Lee et al.
ExactSubstr recipe over DataFrame ops. Extension surface: the reference
has no text processing; span-level dedup complements the whole-doc
pipeline (dedup.py) and semantic pass (semdedup.py)."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import pytest
from pyspark.sql import functions as F

from binance_data_pipeline_spark.operators.substring import dedup_substrings

BOILER = "this license text is duplicated verbatim across many documents " * 2
# 20 tokens exactly (8 words × 2 = 16... adjust): build a 20-token span
SPAN = " ".join(f"tok{i}" for i in range(20))


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_cross_doc_span_removed_keeper_kept(spark):
    a_text = f"alpha begins {SPAN} alpha ends"
    b_text = f"totally different opener {SPAN} and a different closer"
    docs = _docs(spark, [(1, a_text), (2, b_text), (3, "short unrelated doc")])
    cleaned, report = dedup_substrings(docs, min_len=20)
    out = {r["doc_id"]: r["text"] for r in cleaned.collect()}
    # keeper = smallest (doc, start) → doc 1 keeps the span byte-identical
    assert out[1] == a_text
    # doc 2 loses exactly the 20 span tokens, surrounding text survives
    assert "tok0" not in out[2] and "tok19" not in out[2]
    assert out[2].startswith("totally different opener")
    assert out[2].endswith("and a different closer")
    # untouched doc passes through unchanged
    assert out[3] == "short unrelated doc"
    rep = {r["doc_id"]: r["n_tokens_removed"] for r in report.collect()}
    assert rep == {2: 20}


def test_longer_region_removed_as_union(spark):
    """A duplicated region LONGER than min_len removes as one block (the
    window position-union), not as fragments."""
    region = " ".join(f"w{i}" for i in range(30))
    docs = _docs(
        spark,
        [(1, f"first {region} tail1"), (2, f"second {region} tail2")],
    )
    cleaned, report = dedup_substrings(docs, min_len=20)
    out = {r["doc_id"]: r["text"] for r in cleaned.collect()}
    assert out[1] == f"first {region} tail1"
    assert out[2] == "second tail2"
    assert {r["doc_id"]: r["n_tokens_removed"] for r in report.collect()} == {2: 30}


def test_within_doc_repeat_dedups(spark):
    docs = _docs(spark, [(7, f"{SPAN} bridge words here {SPAN}")])
    cleaned, _ = dedup_substrings(docs, min_len=20)
    out = cleaned.collect()[0]["text"]
    # earliest occurrence kept, later removed
    assert out.startswith("tok0") and out.count("tok0 ") == 1
    assert out.endswith("bridge words here")


def test_whole_doc_duplicated_becomes_empty(spark):
    docs = _docs(spark, [(1, SPAN), (2, SPAN)])
    cleaned, _ = dedup_substrings(docs, min_len=20)
    out = {r["doc_id"]: r["text"] for r in cleaned.collect()}
    assert out[1] == SPAN
    assert out[2] == ""


def test_short_docs_cannot_match(spark):
    docs = _docs(spark, [(1, "same short text"), (2, "same short text")])
    cleaned, report = dedup_substrings(docs, min_len=20)
    assert {r["text"] for r in cleaned.collect()} == {"same short text"}
    assert report.count() == 0


def test_extra_columns_and_order_preserved(spark):
    docs = spark.createDataFrame(
        [(1, "en", f"x {SPAN}"), (2, "de", f"y {SPAN}")],
        "doc_id long, lang string, text string",
    )
    cleaned, _ = dedup_substrings(docs, min_len=20)
    assert cleaned.columns == ["doc_id", "lang", "text"]
    out = {r["doc_id"]: r for r in cleaned.collect()}
    assert out[2]["lang"] == "de" and out[2]["text"] == "y"


def test_id_col_named_id_no_ambiguity(spark):
    """A caller id column literally named 'id' must not collide with the
    internal rebuild id (reserved __sid) in the final join/select."""
    a = f"alpha begins {SPAN} alpha ends"
    b = f"other opener {SPAN} other closer"
    docs = spark.createDataFrame([(1, a), (2, b)], "id long, text string")
    cleaned, report = dedup_substrings(docs, id_col="id", min_len=20)
    out = {r["id"]: r["text"] for r in cleaned.collect()}
    assert out[1] == a
    assert "tok0" not in out[2] and out[2].endswith("other closer")
    assert {r["id"]: r["n_tokens_removed"] for r in report.collect()} == {2: 20}


def test_plan_is_jvm_only(spark):
    """No Python in the data path: window hashing, position drops, and the
    rebuild are all JVM expressions."""
    from binance_data_pipeline_spark.plans.audit import audit_plan

    docs = _docs(spark, [(1, f"a {SPAN}"), (2, f"b {SPAN}")])
    cleaned, _ = dedup_substrings(docs, min_len=20)
    errors = [f for f in audit_plan(cleaned) if f.severity == "error"]
    assert not errors, errors
    plan = cleaned._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "InPandas" not in plan


def test_scale_posture_on_real_documents(spark):
    """Over the driver corpus: runs end to end, removes something at the
    paragraph-boilerplate level or nothing — either way counts reconcile
    (tokens removed == token-count delta)."""
    from binance_data_pipeline_spark.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    cleaned, report = dedup_substrings(docs, min_len=12)
    n_in = docs.count()
    assert cleaned.count() == n_in  # span dedup never drops documents
    tok = lambda c: F.size(F.split(F.trim(F.col(c)), r"\s+"))
    before = docs.select(F.sum(tok("text"))).collect()[0][0]
    after = cleaned.where(F.col("text") != "").select(F.sum(tok("text"))).collect()[0][0] or 0
    removed = report.select(F.sum("n_tokens_removed")).collect()[0][0] or 0
    assert before - after == removed
