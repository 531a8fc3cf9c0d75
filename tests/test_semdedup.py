"""Semantic dedup: within-cell pairs match hand-computed cosines, dup
groups keep exactly one representative (farthest-from-centroid or
min-id), the skew guard bounds cell width without dropping whole cells,
and recall vs the brute-force pair oracle stays high on the real
embeddings fixture."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import pytest
from pyspark.sql import functions as F

from binance_data_pipeline_spark.operators.semdedup import (
    assign_clusters,
    semantic_dedup,
    semantic_pairs,
)
SF = "/root/testdata/sf0.001"

# Two known cells: unit vectors around e1 and e3. Group {1,2,3} chains
# via (1,2) and (2,3); (1,3) is below threshold. Group {4,5} is a pair.
CENTROIDS = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.0, 1.0, 0.0])]
DOCS = [
    (1, [1.0, 0.0, 0.0, 0.0]),
    (2, [0.995, 0.0999, 0.0, 0.0]),
    (3, [0.95, 0.312, 0.0, 0.0]),
    (4, [0.0, 0.0, 1.0, 0.0]),
    (5, [0.0, 0.0, 0.9999, 0.0141]),
    (6, [0.0, 0.0, 0.0, 1.0]),  # alone in cell 1, no dup
]


def _corpus(spark):
    return spark.createDataFrame(DOCS, "vec_id long, embedding array<double>")


def test_assignment_is_map_only_with_sim(spark):
    assigned = assign_clusters(_corpus(spark), centroids=CENTROIDS)
    rows = {r["id"]: r for r in assigned.collect()}
    assert [rows[i]["cell_id"] for i in (1, 2, 3)] == [0, 0, 0]
    assert [rows[i]["cell_id"] for i in (4, 5, 6)] == [1, 1, 1]
    assert rows[1]["centroid_sim"] == 1.0
    assert rows[3]["centroid_sim"] == pytest.approx(0.95, abs=1e-3)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # pure map: no shuffle to assign


def test_pairs_within_cell_only(spark):
    assigned = assign_clusters(_corpus(spark), centroids=CENTROIDS)
    pairs = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in semantic_pairs(assigned, threshold=0.97).collect()
    }
    assert set(pairs) == {(1, 2), (2, 3), (4, 5)}
    assert pairs[(1, 2)] == pytest.approx(0.995, abs=1e-3)


def test_keeper_policies(spark):
    far = semantic_dedup(
        _corpus(spark), threshold=0.97, keeper="centroid_far", centroids=CENTROIDS
    )
    rows = {r["id"]: r for r in far.collect()}
    # group {1,2,3}: member least similar to centroid is 3
    assert [rows[i]["group_id"] for i in (1, 2, 3)] == [1, 1, 1]
    assert [rows[i]["keep"] for i in (1, 2, 3)] == [False, False, True]
    # group {4,5}: id 5 is off-centroid; singleton 6 keeps itself
    assert [rows[i]["keep"] for i in (4, 5, 6)] == [False, True, True]
    assert rows[6]["group_id"] == 6

    min_id = semantic_dedup(
        _corpus(spark), threshold=0.97, keeper="min_id", centroids=CENTROIDS
    )
    keep = {r["id"]: r["keep"] for r in min_id.collect()}
    assert keep == {1: True, 2: False, 3: False, 4: True, 5: False, 6: True}


def test_exactly_one_keeper_per_group(spark):
    out = semantic_dedup(_corpus(spark), threshold=0.97, centroids=CENTROIDS)
    per_group = (
        out.groupBy("group_id")
        .agg(F.sum(F.col("keep").cast("int")).alias("kept"))
        .collect()
    )
    assert all(r["kept"] == 1 for r in per_group)


def test_skew_guard_subdivides_not_drops(spark):
    # One degenerate cell holding every doc; cap width at 2. Pairs must
    # still appear (subdivision keeps within-sub-cell dups) and every
    # pair must be a within-sub-cell pair of the uncapped set.
    one_cell = [(0, [1.0, 0.0, 0.0, 0.0])]
    docs = spark.createDataFrame(
        [(i, [1.0, 0.001 * i, 0.0, 0.0]) for i in range(1, 13)],
        "vec_id long, embedding array<double>",
    )
    assigned = assign_clusters(docs, centroids=one_cell)
    full = set(
        (r["id_a"], r["id_b"])
        for r in semantic_pairs(assigned, threshold=0.99).collect()
    )
    capped = set(
        (r["id_a"], r["id_b"])
        for r in semantic_pairs(assigned, threshold=0.99, max_cluster_size=2).collect()
    )
    assert capped and capped < full  # bounded but not emptied


def test_unknown_keeper_rejected(spark):
    with pytest.raises(ValueError, match="unknown keeper"):
        semantic_dedup(_corpus(spark), keeper="median", centroids=CENTROIDS)


def test_recall_on_seeded_dups_in_fixture(spark):
    # The fixture's max pairwise cosine is ~0.48 — no true semantic dups.
    # Seed them: 20 near-copies (cosine ≥ 0.999) of real vectors. The
    # TRAINED path (no injected centroids) must place each copy in its
    # original's cell and recover ≥90% of the seeded pairs; a real dup
    # this similar landing on a cell boundary is the known failure mode,
    # hence ≥0.9 rather than 1.0.
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    originals = emb.orderBy("vec_id").limit(20)
    copies = originals.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.0001 + 1e-6).alias("embedding"),
    )
    seeded = emb.select("vec_id", F.col("embedding").cast("array<double>")).unionByName(
        copies.select("vec_id", F.col("embedding").cast("array<double>"))
    )
    expected = {(r["vec_id"], r["vec_id"] + 100000) for r in originals.collect()}

    out = semantic_dedup(
        seeded, k=8, threshold=0.99, iterations=2, sample_target=None
    )
    rows = {r["id"]: r for r in out.collect()}
    recovered = {
        (a, b) for a, b in expected if rows[a]["group_id"] == rows[b]["group_id"]
    }
    assert len(recovered) / len(expected) >= 0.9
    # each recovered dup group kept exactly one member
    for a, b in recovered:
        assert rows[a]["keep"] != rows[b]["keep"]
