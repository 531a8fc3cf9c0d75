"""Persisted LSH index: build/serve parity with ann_lsh_topk, serve-path
vs distributed-fallback equality, bucket partition pruning, staleness +
meta-last crash contract, exclude_self semantics."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, "/root/repo")

import pytest
from pyspark.sql import functions as F

from binance_data_pipeline_spark.catalog import load_table
from binance_data_pipeline_spark.operators import similarity as S
from binance_data_pipeline_spark.operators.lsh_index import (
    build_lsh_index,
    lsh_query,
    lsh_topk,
)

SF = "/root/testdata/sf0.001"


def _pairs(df):
    return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}


def test_lsh_index_matches_in_memory_ann(spark, tmp_path):
    e = load_table(spark, SF, "embeddings")
    q = e.where(F.col("vec_id") < 10)
    idx = str(tmp_path / "lsh")
    got = lsh_topk(q, e, k=3, index_path=idx)
    ref = S.ann_lsh_topk(q, e, k=3, queries_within_corpus=True)
    # same hyperplanes → same candidate buckets → same re-ranked ids
    assert _pairs(got) == _pairs(ref)
    # ranks are 1..k per query and sims are within rounding of reference
    by_pair = {
        (r["query_id"], r["neighbor_id"]): (r["sim"], r["rk"]) for r in got.collect()
    }
    for r in ref.collect():
        sim, _ = by_pair[(r["query_id"], r["neighbor_id"])]
        assert abs(sim - r["sim"]) <= 1e-3


def test_serve_kernel_equals_distributed_fallback(spark, tmp_path):
    e = load_table(spark, SF, "embeddings")
    q = e.where(F.col("vec_id") < 8)
    idx = str(tmp_path / "lsh")
    build_lsh_index(e, idx)
    kernel = lsh_query(spark, idx, q, k=3)
    joined = lsh_query(spark, idx, q, k=3, max_local_queries=0)
    assert _pairs(kernel) == _pairs(joined)
    ker = {(r["query_id"], r["neighbor_id"]): r["rk"] for r in kernel.collect()}
    jnd = {(r["query_id"], r["neighbor_id"]): r["rk"] for r in joined.collect()}
    assert ker == jnd


def test_serve_path_reads_only_probed_buckets(spark, tmp_path):
    e = load_table(spark, SF, "embeddings")
    idx = str(tmp_path / "lsh")
    build_lsh_index(e, idx)
    q = e.where(F.col("vec_id") < 3)
    # reconstruct the serve-path scan filter: 3 queries × 12 tables probe
    # at most 36 buckets; the partition-pruned scan must list fewer files
    # than the full index
    full = spark.read.parquet(os.path.join(idx, "buckets.parquet"))
    total_files = full.select(F.input_file_name()).distinct().count()
    import numpy as np

    from binance_data_pipeline_spark.operators.similarity import _hyperplanes

    rows = q.select("vec_id", "embedding").collect()
    Q = np.asarray([[float(x) for x in r[1]] for r in rows])
    planes = np.asarray(_hyperplanes(4 * 12, 64))
    bits = (Q @ planes.T) > 0
    sigs = (bits.reshape(len(rows), 12, 4) * (1 << np.arange(4))).sum(axis=2)
    pred = None
    for i in range(len(rows)):
        for t in range(12):
            term = (F.col("tbl") == t) & (F.col("sig") == int(sigs[i, t]))
            pred = term if pred is None else pred | term
    pruned = full.where(pred)
    # partition pruning is visible two ways: the physical plan carries the
    # tbl/sig PartitionFilters, and the files actually scanned are at most
    # the probed buckets (input_file_name reflects post-pruning reads)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "tbl" in plan
    pruned_files = pruned.select(F.input_file_name()).distinct().count()
    assert pruned_files < total_files
    assert pruned_files <= 36


def test_staleness_rebuild_and_meta_last_contract(spark, tmp_path):
    import shutil

    from binance_data_pipeline_spark.operators.ivf import _read_index_fingerprint

    src = str(tmp_path / "corpus.parquet")
    load_table(spark, SF, "embeddings").limit(50).write.parquet(src)
    e = spark.read.parquet(src)
    q = e.limit(3)
    idx = str(tmp_path / "lsh")
    lsh_topk(q, e, k=2, index_path=idx).collect()
    fp1 = _read_index_fingerprint(spark, idx)
    assert fp1 is not None
    # unchanged corpus: no rebuild (fingerprint stable)
    lsh_topk(q, e, k=2, index_path=idx).collect()
    assert _read_index_fingerprint(spark, idx) == fp1
    # corpus regenerated in place: fingerprint moves, index rebuilds
    shutil.rmtree(src)
    load_table(spark, SF, "embeddings").limit(80).write.parquet(src)
    e2 = spark.read.parquet(src)
    lsh_topk(e2.limit(3), e2, k=2, index_path=idx).collect()
    fp2 = _read_index_fingerprint(spark, idx)
    assert fp2 is not None and fp2 != fp1
    # meta written LAST: an index without meta reads as absent
    shutil.rmtree(os.path.join(idx, "meta.parquet"))
    assert _read_index_fingerprint(spark, idx) is None


def test_exclude_self_off_keeps_identity_hit(spark, tmp_path):
    e = load_table(spark, SF, "embeddings")
    q = e.where(F.col("vec_id") < 5)
    idx = str(tmp_path / "lsh")
    build_lsh_index(e, idx)
    kept = lsh_query(spark, idx, q, k=3, exclude_self=False)
    rows = {r["query_id"]: r for r in kept.where("rk = 1").collect()}
    # a vector's nearest neighbor including itself IS itself, sim 1.0
    for qid, r in rows.items():
        assert r["neighbor_id"] == qid and r["sim"] == pytest.approx(1.0, abs=1e-4)
    dropped = lsh_query(spark, idx, q, k=3, exclude_self=True)
    assert all(r["query_id"] != r["neighbor_id"] for r in dropped.collect())


def test_empty_query_batch_returns_typed_empty(spark, tmp_path):
    e = load_table(spark, SF, "embeddings")
    idx = str(tmp_path / "lsh")
    build_lsh_index(e, idx)
    out = lsh_query(spark, idx, e.where(F.col("vec_id") < 0), k=3)
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "sim", "rk"]
