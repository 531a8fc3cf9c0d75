"""Serve-path metadata memo: hit on unchanged listing, self-invalidate
on rewrite, and end-to-end equality of cached vs cold retrieval."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

from binance_data_pipeline_spark.operators.metacache import (
    cached_meta,
    invalidate_meta,
)


def test_hit_miss_and_rewrite_invalidation(spark, tmp_path):
    p = str(tmp_path / "meta.parquet")
    spark.createDataFrame([(7,)], "v long").coalesce(1).write.parquet(p)
    calls = {"n": 0}

    def loader():
        calls["n"] += 1
        return spark.read.parquet(p).first()["v"]

    assert cached_meta(spark, p, loader) == 7
    assert cached_meta(spark, p, loader) == 7
    assert calls["n"] == 1  # second read served from the memo

    # a rewrite (new files) must invalidate — no stale hit
    spark.createDataFrame([(9,)], "v long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(p)
    assert cached_meta(spark, p, loader) == 9
    assert calls["n"] == 2

    invalidate_meta(p)
    assert cached_meta(spark, p, loader) == 9
    assert calls["n"] == 3


def test_cached_retrieval_equals_cold(spark, tmp_path):
    """hybrid_search twice against one root: the second (memoized) call
    must return the identical ranking; rebuilding the root with a new
    doc must invalidate so the new doc is servable."""
    from binance_data_pipeline_spark.operators.retrieval import (
        build_retrieval_index,
        hybrid_search,
    )

    root = str(tmp_path / "root")
    docs = spark.createDataFrame(
        [("d1", "wind turbines convert kinetic energy"),
         ("d2", "solar panels convert photons to current"),
         ("d3", "hydro dams store potential energy")],
        "doc_id string, text string",
    )
    build_retrieval_index(
        spark, docs, root, embed_dim=32, n_term_buckets=4, n_centroids=2
    )
    q = spark.createDataFrame(
        [("q1", "wind turbines energy")], "query_id string, text string"
    )
    invalidate_meta()
    cold = [(r["doc_id"], r["rk"]) for r in
            hybrid_search(spark, root, q, k=3).orderBy("rk").collect()]
    warm = [(r["doc_id"], r["rk"]) for r in
            hybrid_search(spark, root, q, k=3).orderBy("rk").collect()]
    assert cold == warm and cold[0][0] == "d1"

    new = spark.createDataFrame(
        [("d4", "offshore wind turbines harvest stronger wind energy")],
        "doc_id string, text string",
    )
    build_retrieval_index(
        spark, docs.unionByName(new), root, embed_dim=32, n_term_buckets=4,
        n_centroids=2,
    )
    after = [r["doc_id"] for r in
             hybrid_search(spark, root, q, k=4).orderBy("rk").collect()]
    assert "d4" in after  # stale memo would have hidden the added doc
