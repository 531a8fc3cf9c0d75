"""Semantic deduplication — embedding-cluster-bounded cosine pruning
(the SemDeDup recipe: Abbas et al. 2023, arXiv:2303.09540).

MinHash/SimHash (operators/dedup.py) catch near-verbatim text; semantic
dups — paraphrases, translations, template rewrites — share an embedding
neighborhood but few shingles. The published recipe bounds the O(n²)
cosine comparison by k-means clustering: pairs are only scored INSIDE a
cluster, and within each connected dup-group one representative is kept
(canonically the member FARTHEST from its cluster centroid — keeping the
least prototypical member preserves diversity).

Spark shape, stage by stage:

  1. centroids: deterministic sampled k-means (reused from
     operators/ivf.py — same trainer the ANN index uses);
  2. assignment: one broadcast-centroid map pass per row (no shuffle),
     keeping the centroid cosine for the keeper policy;
  3. candidate pairs: self-join keyed on cell_id — the shuffle is
     corpus-sized, the join fan-out is bounded by cell width, never
     corpus width. Oversized cells (skew: near-constant embeddings,
     zero vectors) are SUBDIVIDED by id-hash into ≤``max_cluster_size``
     sub-cells rather than dropped — pairs across sub-cell boundaries
     are the (documented) recall cost of the skew guard;
  4. dup groups: connected components via the shared
     ``dedup.cluster_pairs`` (pointer-jumping min-label, O(log d)
     rounds);
  5. keeper: per group, argmin centroid-cosine (ties → smallest id),
     or plain smallest-id for a cheaper fully-order-free variant.

At 100 TB: no stage touches more than one corpus-sized shuffle; the
quadratic term is Σ w_i² over capped cell widths; components shuffle
edges, not rows. Same posture as the MinHash path — bucketed, not
all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import cluster_pairs
from .ivf import _centroid_array_col, train_centroids
from .similarity import _spread, cosine, pair_cosine_udf


def assign_clusters(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    iterations: int = 2,
    sample_target: int | None = 4096,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """(id, v, cell_id, centroid_sim): nearest-centroid assignment as a
    pure map (broadcast literal centroids, argmax inside one transform
    expression — no explode, no shuffle), keeping the winning cosine.
    Pass ``centroids`` to reuse a trained set (e.g. the IVF index's)."""
    if centroids is None:
        centroids = train_centroids(corpus, id_col, vec_col, k, iterations, sample_target)
    cents = _centroid_array_col(centroids)
    base = _spread(corpus).select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    best = F.array_max(
        F.transform(
            cents,
            lambda c: F.struct(
                cosine(F.col("v"), c["vec"]).alias("sim"), c["cid"].alias("cid")
            ),
        )
    )
    return base.select(
        "id",
        "v",
        best["cid"].alias("cell_id"),
        F.round(best["sim"], 6).alias("centroid_sim"),
    )


def semantic_pairs(
    assigned: DataFrame,
    threshold: float = 0.9,
    max_cluster_size: int | None = None,
) -> DataFrame:
    """Within-cell cosine pairs (id_a < id_b, sim ≥ threshold).

    ``max_cluster_size`` subdivides cells wider than the cap by id-hash
    (ceil(w/cap) sub-cells), so a degenerate cell of width w costs
    O(w·cap) comparisons instead of O(w²); cross-sub-cell dups inside
    that cell are forgone — the skew guard's recall trade, mirroring the
    banding cap in dedup.py but splitting instead of dropping (a k-means
    cell is coarse; discarding one wholesale would lose every dup in
    it)."""
    keyed = assigned.select("id", "v", "cell_id")
    join_keys = ["cell_id"]
    if max_cluster_size is not None:
        widths = keyed.groupBy("cell_id").agg(F.count(F.lit(1)).alias("w"))
        keyed = keyed.join(F.broadcast(widths), "cell_id").withColumn(
            "sub",
            F.pmod(
                F.xxhash64(F.col("id")),
                F.greatest(F.lit(1), F.ceil(F.col("w") / F.lit(max_cluster_size))).cast("long"),
            ),
        ).drop("w")
        join_keys = ["cell_id", "sub"]
    l = keyed.select(*join_keys, F.col("id").alias("id_a"), F.col("v").alias("va"))
    r = keyed.select(*join_keys, F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (
        l.join(r, join_keys)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("sim", F.round(pair_cosine_udf()(F.col("va"), F.col("vb")), 4))
        .where(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    threshold: float = 0.9,
    keeper: str = "centroid_far",
    max_cluster_size: int | None = None,
    iterations: int = 2,
    sample_target: int | None = 4096,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Per-document keeper decision table:
    (id, cell_id, centroid_sim, group_id, keep).

    ``keeper="centroid_far"`` keeps each dup-group's member least similar
    to its cluster centroid (SemDeDup's diversity-preserving choice, ties
    broken by smallest id); ``keeper="min_id"`` keeps the smallest id.
    Documents in no dup group keep themselves (group_id = own id)."""
    if keeper not in ("centroid_far", "min_id"):
        raise ValueError(f"unknown keeper policy {keeper!r}")

    assigned = assign_clusters(
        corpus, id_col, vec_col, k, iterations, sample_target, centroids
    )
    pairs = semantic_pairs(assigned, threshold, max_cluster_size)
    groups = cluster_pairs(pairs)  # (id, cluster_id) for ids in ≥1 pair

    docs = assigned.select("id", "cell_id", "centroid_sim")
    labeled = docs.join(groups.withColumnRenamed("cluster_id", "group_id"), "id", "left")
    labeled = labeled.withColumn("group_id", F.coalesce(F.col("group_id"), F.col("id")))

    if keeper == "min_id":
        keepers = labeled.groupBy("group_id").agg(F.min("id").alias("keeper_id"))
    else:
        keepers = labeled.groupBy("group_id").agg(
            F.min_by(
                F.col("id"), F.struct(F.col("centroid_sim"), F.col("id"))
            ).alias("keeper_id")
        )
    return (
        labeled.join(keepers, "group_id")
        .select(
            "id",
            "cell_id",
            "centroid_sim",
            "group_id",
            (F.col("id") == F.col("keeper_id")).alias("keep"),
        )
    )
