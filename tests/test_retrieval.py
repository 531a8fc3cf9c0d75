"""Retrieval serving root: build composes the BM25 + IVF build-once
indexes under one dir, hybrid search fuses both probes, chunked builds
index passages, and a manifest-less root refuses to serve."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, "/root/repo")

import pytest
from pyspark.sql import functions as F

from binance_data_pipeline_spark.operators.retrieval import (
    build_retrieval_index,
    hybrid_search,
)

DOCS = [
    ("d1", "solar panels convert sunlight into clean electricity"),
    ("d2", "wind turbines convert moving air into electricity"),
    ("d3", "medieval knights wore heavy armor into battle"),
    ("d4", "castles defended medieval towns from armored raiders"),
]
# d1/d2 cluster (energy), d3/d4 cluster (medieval)
EMB = [
    ("d1", [1.0, 0.1, 0.0]),
    ("d2", [0.9, 0.2, 0.0]),
    ("d3", [0.0, 1.0, 0.1]),
    ("d4", [0.1, 0.9, 0.0]),
]


def _build(spark, tmp_path, embeddings=True, chunk_tokens=None):
    docs = spark.createDataFrame(DOCS, "doc_id string, text string")
    emb = (
        spark.createDataFrame(EMB, "vec_id string, embedding array<double>")
        if embeddings
        else None
    )
    root = str(tmp_path / "serving")
    counts = build_retrieval_index(
        spark, docs, root, embeddings=emb,
        n_term_buckets=8, n_centroids=2, chunk_tokens=chunk_tokens,
        overlap_tokens=1 if chunk_tokens else 32,
    )
    return root, counts


def test_build_layout_and_manifest(spark, tmp_path):
    root, counts = _build(spark, tmp_path)
    assert counts["passages"] == 4 and counts.get("ann_vectors") == 4
    for sub in ["passages.parquet", "bm25", "ann", "manifest.parquet"]:
        assert os.path.exists(os.path.join(root, sub)), sub
    m = spark.read.parquet(os.path.join(root, "manifest.parquet")).first()
    assert m["unit"] == "doc" and m["has_ann"] is True


def test_hybrid_search_fuses_lexical_and_vector(spark, tmp_path):
    root, _ = _build(spark, tmp_path)
    # lexical probe says "electricity" (d1, d2); the query VECTOR also
    # sits in the energy cluster -> both fused legs agree
    queries = spark.createDataFrame(
        [("q", "electricity from sunlight")], "query_id string, text string"
    )
    qv = spark.createDataFrame(
        [("q", [1.0, 0.15, 0.0])], "vec_id string, embedding array<double>"
    )
    rows = hybrid_search(spark, root, queries, qv, k=3).orderBy("rk").collect()
    assert [r["doc_id"] for r in rows][:2] == ["d1", "d2"]

    # lexical-only search still works
    lex_rows = hybrid_search(spark, root, queries, None, k=3).orderBy("rk").collect()
    assert lex_rows[0]["doc_id"] == "d1"

    # a doc ranked by BOTH legs outranks one ranked by a single leg:
    # query mentions 'armor' (lex: d3) but the vector is energy-side
    mixed_q = spark.createDataFrame(
        [("q", "electricity armor")], "query_id string, text string"
    )
    fused = hybrid_search(spark, root, mixed_q, qv, k=4).orderBy("rk").collect()
    assert fused[0]["doc_id"] in ("d1", "d2")


def test_hybrid_query_id_colliding_with_doc_id_keeps_the_doc(spark, tmp_path):
    """Query ids live in their own namespace: a query whose id EQUALS a
    doc id must still rank that doc in the vector leg (the corpus-kNN
    self-match exclusion must not leak into the serving path, where it
    silently deleted the colliding doc from the ranking)."""
    root, _ = _build(spark, tmp_path)
    # query id "d1" collides with doc d1; vector sits ON d1's embedding
    queries = spark.createDataFrame(
        [("d1", "electricity from sunlight")], "query_id string, text string"
    )
    qv = spark.createDataFrame(
        [("d1", [1.0, 0.1, 0.0])], "vec_id string, embedding array<double>"
    )
    rows = hybrid_search(spark, root, queries, qv, k=3).orderBy("rk").collect()
    assert rows, "no results for colliding-id query"
    assert rows[0]["doc_id"] == "d1"  # the collision must not drop d1


def test_chunked_build_indexes_passages(spark, tmp_path):
    root, counts = _build(spark, tmp_path, embeddings=False, chunk_tokens=4)
    assert counts["passages"] > 4  # docs split into windows
    m = spark.read.parquet(os.path.join(root, "manifest.parquet")).first()
    assert m["unit"] == "chunk" and m["has_ann"] is False
    queries = spark.createDataFrame(
        [("q", "sunlight electricity")], "query_id string, text string"
    )
    top = hybrid_search(spark, root, queries, None, k=2).first()
    assert top["doc_id"].startswith("d1#")  # passage ids carry doc#chunk


def test_refuses_manifestless_root_and_missing_ann(spark, tmp_path):
    root, _ = _build(spark, tmp_path, embeddings=False)
    queries = spark.createDataFrame([("q", "x")], "query_id string, text string")
    qv = spark.createDataFrame([("q", [1.0, 0.0, 0.0])], "vec_id string, embedding array<double>")
    with pytest.raises(ValueError, match="without an ANN"):
        hybrid_search(spark, root, queries, qv)
    with pytest.raises(ValueError, match="manifest"):
        hybrid_search(spark, str(tmp_path / "nowhere"), queries, None)


def test_rerank_promotes_exact_restatement(spark, tmp_path):
    """BM25's idf-weighting can rank a rare-term passage above the
    query's exact restatement; the rerank stage (token-F1 default
    scorer) must put the restatement first and cap at k."""
    from binance_data_pipeline_spark.operators.retrieval import rerank

    root, _ = _build(spark, tmp_path)
    queries = spark.createDataFrame(
        [("q1", "wind turbines convert moving air into electricity")],
        "query_id string, text string",
    )
    cands = hybrid_search(spark, root, queries, k=4)
    assert cands.count() >= 2  # d1 and d2 both match lexically
    out = rerank(spark, root, cands, queries, k=2).collect()
    assert len(out) == 2
    by_rank = sorted(out, key=lambda r: r["rk"])
    assert by_rank[0]["doc_id"] == "d2"
    assert abs(by_rank[0]["rerank_score"] - 1.0) < 1e-12  # exact restatement
    assert by_rank[1]["rerank_score"] < 1.0


def test_rerank_injectable_scorer_and_stub(spark, tmp_path):
    import numpy as np

    from binance_data_pipeline_spark.operators.retrieval import rerank, stub_scorer

    root, _ = _build(spark, tmp_path, embeddings=False)
    queries = spark.createDataFrame(
        [("q1", "electricity")], "query_id string, text string"
    )
    cands = hybrid_search(spark, root, queries, k=4)

    def reverse_scorer(q_texts, p_texts):
        # score by passage length: promotes the LONGEST candidate
        return np.array([float(len(p or "")) for p in p_texts])

    top = (
        rerank(spark, root, cands, queries, k=1, scorer=reverse_scorer)
        .first()
    )
    cand_texts = {
        r["doc_id"]: next(t for d, t in DOCS if d == r["doc_id"])
        for r in cands.collect()
    }
    assert len(cand_texts[top["doc_id"]]) == max(len(t) for t in cand_texts.values())

    with pytest.raises(NotImplementedError, match="cross-encoder"):
        stub_scorer(["q"], ["p"])


def test_rerank_plan_broadcasts_candidates_not_corpus(spark, tmp_path):
    from binance_data_pipeline_spark.operators.retrieval import rerank
    from binance_data_pipeline_spark.plans.audit import audit_plan, plan_text

    root, _ = _build(spark, tmp_path, embeddings=False)
    queries = spark.createDataFrame(
        [("q1", "electricity")], "query_id string, text string"
    )
    cands = hybrid_search(spark, root, queries, k=4)
    out = rerank(spark, root, cands, queries, k=2)
    findings = [f for f in audit_plan(out) if f.code in ("PY_ROW_EVAL", "CARTESIAN")]
    assert findings == [], findings
    text = plan_text(out)
    assert "BroadcastHashJoin" in text  # candidates/queries are the broadcast sides


def test_self_contained_root_from_raw_text(spark, tmp_path):
    """embed_dim at build time makes the root self-contained: passage
    embeddings are generated in-flight, the manifest records the encoder
    geometry, and hybrid_search embeds query TEXT with the identical
    deterministic encoder — the vector leg finds the paraphrase that
    shares almost no exact keywords with the query."""
    docs = spark.createDataFrame(DOCS, "doc_id string, text string")
    root = str(tmp_path / "selfserve")
    counts = build_retrieval_index(
        spark, docs, root, embeddings=None, embed_dim=256,
        n_term_buckets=8, n_centroids=2,
    )
    assert counts.get("ann_vectors") == 4
    m = spark.read.parquet(root + "/manifest.parquet").first()
    assert m["has_ann"] is True and m["embed_dim"] == 256 and m["embed_seed"] == 0

    # query shares tokens with d2's text → both legs agree on d2
    queries = spark.createDataFrame(
        [("q1", "wind turbines convert moving air into electricity")],
        "query_id string, text string",
    )
    top = hybrid_search(spark, root, queries, k=3)
    rows = sorted(top.collect(), key=lambda r: r["rk"])
    assert rows[0]["doc_id"] == "d2"
    # two fused legs → the top doc's rrf_score reflects both rankings
    assert rows[0]["rrf_score"] > 1.0 / 61  # more than a single leg's max


def test_self_contained_root_seed_is_pinned(spark, tmp_path):
    """A root built with a non-default seed serves queries with THAT
    seed (the manifest, not the default, drives the serve-time encoder)."""
    from binance_data_pipeline_spark.operators.embedder import (
        embed_texts,
        hash_encoder,
    )

    docs = spark.createDataFrame(DOCS, "doc_id string, text string")
    root = str(tmp_path / "seeded")
    build_retrieval_index(
        spark, docs, root, embed_dim=64, embed_seed=7,
        n_term_buckets=8, n_centroids=2,
    )
    m = spark.read.parquet(root + "/manifest.parquet").first()
    assert m["embed_seed"] == 7
    # the persisted ANN index's vectors equal a fresh seed-7 encoding
    queries = spark.createDataFrame(
        [("q1", DOCS[0][1])], "query_id string, text string"
    )
    rows = hybrid_search(spark, root, queries, k=1).collect()
    assert rows and rows[0]["doc_id"] == "d1"  # exact text match wins both legs


def test_validate_retrieval_root_clean_and_orphaned(spark, tmp_path):
    """validate_retrieval_root: a freshly built self-contained root is
    fully consistent; a passage removed behind the manifest's back is
    detected as a count mismatch and an orphan vector."""
    from binance_data_pipeline_spark.operators.retrieval import (
        validate_retrieval_root,
    )

    docs = spark.createDataFrame(DOCS, "doc_id string, text string")
    root = str(tmp_path / "audit")
    build_retrieval_index(
        spark, docs, root, embed_dim=64, n_term_buckets=8, n_centroids=2,
    )
    rep = validate_retrieval_root(spark, root)
    assert rep == {
        "n_passages": 4, "manifest_count_ok": True,
        "n_unindexed_lexical": 0, "n_unindexed_vector": 0,
        "n_orphan_vectors": 0,
    }

    # drop d4's passage row: its indexed vector is now an orphan
    kept = spark.read.parquet(root + "/passages.parquet").where(
        F.col("doc_id") != "d4"
    ).collect()
    spark.createDataFrame(kept, "doc_id string, text string").write.mode(
        "overwrite"
    ).parquet(root + "/passages.parquet")
    rep = validate_retrieval_root(spark, root)
    assert rep["n_passages"] == 3 and not rep["manifest_count_ok"]
    assert rep["n_orphan_vectors"] == 1


def test_rm3_expansion_bridges_vocabulary_gap(spark, tmp_path):
    """RM3: a doc sharing NO term with the query surfaces because it
    shares vocabulary with the query's top hits; plain BM25 can never
    return it. Weighted second pass still ranks the direct match first."""
    from binance_data_pipeline_spark.operators.bm25 import bm25_query
    from binance_data_pipeline_spark.operators.retrieval import rm3_search

    docs = spark.createDataFrame(
        [("d1", "solar energy panels photovoltaic cells electricity"),
         ("d2", "photovoltaic panels electricity output and cells yield"),
         ("d3", "medieval knights wore heavy armor into battle"),
         ("d4", "rivers carve canyons through sedimentary rock layers")],
        "doc_id string, text string",
    )
    root = str(tmp_path / "rm3root")
    build_retrieval_index(spark, docs, root, n_term_buckets=4)
    queries = spark.createDataFrame(
        [("q1", "solar energy")], "query_id string, text string"
    )
    plain = {r["doc_id"] for r in
             bm25_query(spark, root + "/bm25", queries, k=4).collect()}
    assert plain == {"d1"}  # only the direct match carries a query term

    rows = sorted(
        rm3_search(spark, root, queries, k=4, fb_docs=1, fb_terms=6).collect(),
        key=lambda r: r["rk"],
    )
    got = [r["doc_id"] for r in rows]
    assert got[0] == "d1" and "d2" in got  # gap bridged, direct match on top
    assert "d3" not in got and "d4" not in got


def test_weighted_terms_unit_weights_match_plain_bm25(spark, tmp_path):
    """bm25_query(weighted_terms=qw 1.0 per distinct query term)
    reproduces the unweighted scores bit-for-bit — the RM3 hook is a
    pure generalization."""
    from binance_data_pipeline_spark.operators.bm25 import bm25_query

    docs = spark.createDataFrame(DOCS, "doc_id string, text string")
    root = str(tmp_path / "wtroot")
    build_retrieval_index(spark, docs, root, n_term_buckets=4)
    queries = spark.createDataFrame(
        [("q1", "electricity electricity turbines")],
        "query_id string, text string",
    )
    plain = {(r["doc_id"], r["score"], r["rk"]) for r in
             bm25_query(spark, root + "/bm25", queries, k=4).collect()}
    wt = spark.createDataFrame(
        [("q1", "electricity", 1.0), ("q1", "turbines", 1.0)],
        "query_id string, term string, qw double",
    )
    weighted = {(r["doc_id"], r["score"], r["rk"]) for r in
                bm25_query(spark, root + "/bm25", queries, k=4,
                           weighted_terms=wt).collect()}
    assert plain == weighted
