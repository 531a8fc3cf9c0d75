"""Text → embedding generation: determinism, normalisation, encoder
injection, end-to-end composition with the vector family, and the
Arrow-only plan contract."""

from __future__ import annotations

import sys

import numpy as np
import pytest

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from binance_data_pipeline_spark.operators.embedder import (
    embed_texts,
    hash_encoder,
    stub_encoder,
)
from binance_data_pipeline_spark.plans.audit import audit_plan, plan_text

DOCS = [
    ("a", "the quick brown fox jumps over the lazy dog"),
    ("b", "the quick brown fox jumps over the lazy cat"),
    ("c", "completely unrelated text about parquet shuffles"),
    ("d", None),
    ("e", ""),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id string, text string")


def _vecs(df):
    return {r["doc_id"]: np.array(r["embedding"]) for r in df.collect()}


def test_deterministic_across_runs_and_partitionings(docs):
    a = _vecs(embed_texts(docs, dim=64))
    b = _vecs(embed_texts(docs.repartition(7), dim=64))
    assert set(a) == set(b) == {"a", "b", "c", "d", "e"}
    for k in a:
        assert np.array_equal(a[k], b[k]), k


def test_unit_norm_dim_and_null_safety(docs):
    vecs = _vecs(embed_texts(docs, dim=64))
    for k, v in vecs.items():
        assert v.shape == (64,)
        n = float(np.linalg.norm(v))
        # null/empty texts embed to the zero vector, others to unit norm
        assert abs(n - (0.0 if k in ("d", "e") else 1.0)) < 1e-5, (k, n)


def test_cosine_orders_lexical_similarity(docs):
    # "a" vs "b" share 8 of 9 tokens; "c" shares none of substance
    vecs = _vecs(embed_texts(docs, dim=256))
    sim_ab = float(vecs["a"] @ vecs["b"])
    sim_ac = float(vecs["a"] @ vecs["c"])
    assert sim_ab > 0.5 > sim_ac


def test_seed_changes_embedding_space(docs):
    a = _vecs(embed_texts(docs, encoder=hash_encoder(64, seed=0)))
    b = _vecs(embed_texts(docs, encoder=hash_encoder(64, seed=1)))
    assert not np.array_equal(a["a"], b["a"])


def test_injected_encoder_and_shape_validation(spark, docs):
    def constant_encoder(texts):
        return np.tile(np.arange(4, dtype=np.float32), (len(texts), 1))

    out = _vecs(embed_texts(docs, encoder=constant_encoder))
    assert np.array_equal(out["a"], np.array([0, 1, 2, 3], dtype=np.float32))

    def bad_encoder(texts):
        return np.zeros((1, 4))  # wrong row count on any batch > 1

    with pytest.raises(Exception, match="expected"):
        embed_texts(docs.coalesce(1), encoder=bad_encoder).collect()

    with pytest.raises(NotImplementedError, match="model encoder"):
        stub_encoder(["x"])


def test_existing_out_col_rejected(docs):
    with pytest.raises(ValueError, match="already exists"):
        embed_texts(docs.withColumn("embedding", F.lit(1)), dim=8)


def test_end_to_end_near_dup_from_raw_text(spark):
    """documents → embed_texts → brute cosine near-dup finds the planted
    paraphrase pair and nothing else — the vector family runs from raw
    text with no external model."""
    from binance_data_pipeline_spark.operators.similarity import (
        cosine_near_dup_pairs_brute,
    )

    rows = [
        (f"d{i}", " ".join(f"w{i}x{j}" for j in range(8))) for i in range(20)
    ]
    rows += [
        ("p1", "spark shuffles data between stages using hash partitioning"),
        ("p2", "spark shuffles data between stages using hash partitioning too"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    emb = embed_texts(docs, dim=256).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    pairs = {
        tuple(sorted((r["id_a"], r["id_b"])))
        for r in cosine_near_dup_pairs_brute(emb, threshold=0.8).collect()
    }
    assert pairs == {("p1", "p2")}


def test_plan_is_map_only_arrow(docs):
    out = embed_texts(docs, dim=32)
    findings = [f for f in audit_plan(out) if f.code in ("PY_ROW_EVAL", "CARTESIAN")]
    assert findings == [], findings
    text = plan_text(out)
    assert "ArrowEvalPython" in text or "MapInPandas" in text
    assert "Exchange" not in text  # pure map stage: no shuffle


def test_char_analyzer_discriminates_whitespace_free_text(spark):
    """Scripts without whitespace collapse to one word-gram per doc, so
    word mode can't tell near-dups from unrelated docs — char n-grams
    can."""
    a = "深度学习模型在大规模数据集上训练效果显著提升性能"
    b = "深度学习模型在大规模数据集上训练效果显著提升表现"   # near-dup
    c = "今天天气晴朗适合户外跑步和登山活动呼吸新鲜空气"     # unrelated

    w = hash_encoder(256, analyzer="word")([a, b, c])
    # one token each, all distinct → word embeddings are orthogonal
    assert abs(float(w[0] @ w[1])) < 0.1

    ch = hash_encoder(256, analyzer="char")([a, b, c])
    sim_ab, sim_ac = float(ch[0] @ ch[1]), float(ch[0] @ ch[2])
    assert sim_ab > 0.6 > sim_ac


def test_bad_analyzer_rejected():
    import pytest as _pytest

    with _pytest.raises(ValueError, match="analyzer"):
        hash_encoder(64, analyzer="subword")


# ---- hypothesis property tests (pure encoder level, no Spark jobs) ----

from hypothesis import given, settings
from hypothesis import strategies as st

_texts = st.lists(st.text(max_size=80), min_size=1, max_size=8)


@settings(max_examples=60, deadline=None)
@given(_texts)
def test_property_norm_is_zero_or_unit(texts):
    vecs = hash_encoder(64)(texts)
    for t, v in zip(texts, vecs):
        n = float(np.linalg.norm(v))
        if t.split():
            assert abs(n - 1.0) < 1e-6
        else:
            assert n == 0.0


@settings(max_examples=30, deadline=None)
@given(_texts)
def test_property_deterministic_and_analyzer_total(texts):
    enc_w, enc_c = hash_encoder(32), hash_encoder(32, analyzer="char")
    assert np.array_equal(enc_w(texts), enc_w(texts))
    cv = enc_c(texts)  # char mode never throws, any unicode
    assert cv.shape == (len(texts), 32)
    for t, v in zip(texts, cv):
        lo = 3
        n = float(np.linalg.norm(v))
        # shorter than the smallest n-gram → zero vector; else unit
        assert (abs(n - 1.0) < 1e-6) if len(t.lower()) >= lo else (n == 0.0)
