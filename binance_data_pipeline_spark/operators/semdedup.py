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

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from .dedup import cluster_pairs
from .ivf import _centroid_array_col, train_centroids
from .similarity import _spread, cosine, pair_cosine_udf

from ..session import local_rows


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


# --------------------------------------------------------------------------
# Incremental variant: arriving batches vs a persisted member state
# --------------------------------------------------------------------------

def _read_members(spark: SparkSession, path: str, id_type: str) -> DataFrame:
    schema = f"id {id_type}, v array<double>, centroid_sim double, cell_id int"
    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException:
        return spark.createDataFrame([], schema)


def _load_centroids(spark: SparkSession, path: str) -> list[tuple[int, list[float]]] | None:
    try:
        rows = spark.read.parquet(path).collect()
    except AnalysisException:
        return None
    return sorted((r["cid"], list(r["vec"])) for r in rows)


def semantic_dedup_batch(
    docs: DataFrame,
    state_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    threshold: float = 0.9,
    max_cell_size: int | None = None,
    iterations: int = 2,
    sample_target: int | None = 4096,
) -> tuple[DataFrame, DataFrame]:
    """Semantic dedup for ARRIVING batches: dedupe the batch within
    itself and against every doc already admitted, without recomputing
    anything for the existing corpus. Returns
    (kept, mapping) with mapping = (doc_id, kept_doc_id,
    reason ∈ {kept, semantic_dup}); kept_doc_id may be an EXISTING doc.
    Both must be consumed before the next batch runs.

    Persisted state under ``state_path`` (append-only):

        centroids.parquet  (cid, vec)   trained on the FIRST batch, then
                                        immutable — cell assignment must
                                        stay stable or old members would
                                        need re-assignment (drift remedy:
                                        retrain into a NEW state dir, as
                                        compact_state does for buckets)
        members.parquet    (id, v, centroid_sim) hive-partitioned by
                                        cell_id — each batch's corpus
                                        probe file-prunes to the cells
                                        the batch itself touches

    Keeper policy is STICKY min-id (a batch cluster touching existing
    members maps onto the smallest existing keeper; membership of the
    existing corpus never changes — append-only state needs keeper
    stability, so the diversity keeper of the batch variant does not
    apply here).

    ``max_cell_size`` caps the corpus side of the candidate join: cells
    whose MEMBER count exceeds the cap are skipped for batch↔corpus
    comparison (dropped, not subdivided — mirrors the hot-bucket cap in
    dedup.py; within-batch pairs still use hash subdivision). Size k so
    expected cell width stays under it.

    Only KEPT docs' vectors enter the state (the SemDeDup posture): a
    later doc similar ONLY to a dropped non-keeper — not to its keeper —
    is admitted. The exact-dedup state can afford to index dropped docs
    (a fingerprint row is bytes); indexing every dropped VECTOR would
    grow the state with data the policy chose to discard."""
    spark = docs.sparkSession
    state = state_path.rstrip("/")
    cent_path = f"{state}/centroids.parquet"
    members_path = f"{state}/members.parquet"
    id_type = dict(docs.dtypes)[id_col]

    centroids = _load_centroids(spark, cent_path)
    if centroids is None:
        centroids = train_centroids(docs, id_col, vec_col, k, iterations, sample_target)
        local_rows(
            spark, [(cid, vec) for cid, vec in centroids], "cid INT, vec ARRAY<DOUBLE>"
        ).write.parquet(cent_path)

    assigned = assign_clusters(docs, id_col, vec_col, centroids=centroids)
    members = _read_members(spark, members_path, id_type)

    # ---- batch ↔ batch pairs (within-cell, hash-subdivided) ----------
    batch_pairs = semantic_pairs(assigned, threshold, max_cell_size)

    # ---- batch ↔ corpus pairs (cell-pruned member scan) --------------
    touched = [r["cell_id"] for r in assigned.select("cell_id").distinct().collect()]
    corpus_side = members.where(F.col("cell_id").isin(touched))
    if max_cell_size is not None:
        ok_cells = (
            corpus_side.groupBy("cell_id")
            .agg(F.count(F.lit(1)).alias("w"))
            .where(F.col("w") <= max_cell_size)
            .select("cell_id")
        )
        corpus_side = corpus_side.join(ok_cells, "cell_id", "left_semi")
    old_hits = (
        assigned.select("cell_id", F.col("id").alias("new_id"), F.col("v").alias("nv"))
        .join(
            corpus_side.select(
                "cell_id", F.col("id").alias("old_id"), F.col("v").alias("ov")
            ),
            "cell_id",
        )
        .withColumn("sim", F.round(pair_cosine_udf()(F.col("nv"), F.col("ov")), 4))
        .where(F.col("sim") >= threshold)
        .select("new_id", "old_id")
    )

    # ---- sticky resolution -------------------------------------------
    # within-batch components first; then any component touching existing
    # members absorbs into the smallest existing keeper it touches
    groups = cluster_pairs(batch_pairs)
    ids = assigned.select("id")
    labeled = (
        ids.join(groups.withColumnRenamed("cluster_id", "group_id"), "id", "left")
        .withColumn("group_id", F.coalesce(F.col("group_id"), F.col("id")))
    )
    absorb = (
        labeled.join(old_hits, labeled.id == old_hits.new_id)
        .groupBy("group_id")
        .agg(F.min("old_id").alias("absorbed_into"))
    )
    resolved = (
        labeled.join(absorb, "group_id", "left")
        .withColumn(
            "keeper_id",
            F.coalesce(
                F.col("absorbed_into"),
                F.min("id").over(Window.partitionBy("group_id")),
            ),
        )
    )
    mapping = resolved.select(
        F.col("id").alias("doc_id"),
        F.col("keeper_id").alias("kept_doc_id"),
        F.when(F.col("id") == F.col("keeper_id"), "kept")
        .otherwise("semantic_dup")
        .alias("reason"),
    )
    mapping.localCheckpoint(eager=True)
    kept_ids = mapping.where(F.col("reason") == "kept").select(F.col("doc_id").alias("id"))
    kept = docs.join(kept_ids, F.col(id_col) == F.col("id"), "left_semi")

    # ---- state append: members for newly-kept docs only --------------
    new_members = assigned.join(kept_ids, "id", "left_semi").select(
        "id", "v", "centroid_sim", "cell_id"
    )
    new_members.write.mode("append").partitionBy("cell_id").parquet(members_path)
    return kept, mapping


def streaming_semantic_dedup(
    stream_docs: DataFrame,
    state_path: str,
    out_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    **batch_kwargs,
):
    """foreachBatch wrapper around ``semantic_dedup_batch``: each
    micro-batch dedupes against the persisted member state and appends
    kept docs + audit mapping under ``out_path``.
    Returns the UNSTARTED writer (caller picks the trigger and calls
    .start()).

    Replay guard: per-batch commit markers (state_swap.commit_batch,
    written after every append landed) make replays of COMMITTED batches
    skip with no duplicate state/mapping/corpus rows. A crash between
    the first append and the marker replays that one batch: re-drops
    stay idempotent against the already-appended member state, audit
    rows may duplicate per (doc, batch) — the documented at-least-once
    window of append-only state."""
    out = out_path.rstrip("/")
    commits = f"{state_path.rstrip('/')}/commits"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        from ..lifecycle import barrier_scope
        from .state_swap import batch_committed, commit_batch

        spark = batch_df.sparkSession
        if batch_committed(spark, commits, batch_id):
            return
        with barrier_scope(spark):
            kept, mapping = semantic_dedup_batch(
                batch_df, state_path, id_col=id_col, vec_col=vec_col,
                threshold=threshold, **batch_kwargs,
            )
            mapping.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(f"{out}/mapping.parquet")
            kept.write.mode("append").parquet(f"{out}/corpus.parquet")
            commit_batch(spark, commits, batch_id)

    return stream_docs.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
