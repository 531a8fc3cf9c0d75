"""Incremental corpus deduplication: dedupe ARRIVING batches against a
persisted signature state without recomputing anything for docs already
admitted — the operator a continuously-fed LLM training corpus needs
(the batch `dedup_corpus` re-shingles the whole corpus every run).

Persisted state under ``state_path`` (all parquet, append-only — old
files are never rewritten, which is the no-recompute guarantee):

    fingerprints.parquet  (fp, keeper_id)        one row per distinct md5
    buckets.parquet       (band_id, bh, id)      LSH band buckets, KEPT docs
    shingles.parquet      (id, sh)               shingle-hash sets, KEPT docs

Per batch (``dedup_batch``):

  1. EXACT: md5 the batch; existing fingerprints win (their keeper is
     sticky), then smallest-id-per-fp within the batch.
  2. NEAR, batch↔batch: the normal MinHash/LSH/Jaccard pipeline over
     batch survivors only.
  3. NEAR, batch↔corpus: the batch's band buckets joined against the
     persisted bucket table (corpus side is scanned but never
     re-hashed; the batch side is small, so AQE broadcasts it),
     verified by exact Jaccard against the persisted shingle sets of
     the CANDIDATE old docs only.
  4. STICKY clustering: within-batch pairs cluster by min-label; any
     cluster touching an existing keeper is absorbed into the smallest
     such keeper. Existing corpus membership never changes — a batch
     can only add docs or map its own docs onto existing keepers
     (keeper-stability is what makes the state append-only; a
     smallest-id-wins-globally policy would demand corpus rewrites).
  5. State append: new fingerprints → their final keeper; buckets +
     shingles for newly-KEPT docs only.

Returns the same (kept, mapping) contract as ``dedup_corpus``:
mapping = (doc_id, kept_doc_id, reason ∈ {kept, exact_dup, near_dup}),
where kept_doc_id may be an EXISTING corpus doc.

``streaming_dedup_corpus`` wraps dedup_batch in foreachBatch: each
micro-batch appends its kept docs + audit mapping under ``out_path``.
Replays of COMMITTED batches skip via per-batch commit markers
(state_swap.commit_batch, written after all appends land); only a crash
inside a batch — between its first append and its marker — replays that
one batch, where re-drops stay idempotent and audit rows may repeat.

Scale: per-batch work is O(batch) hashing + bucket-bounded candidate
joins; the corpus-side bucket/shingle scans are join-pruned to candidate
rows after the exchange. When the bucket state outgrows one scan, create
the state with ``state_partitions=P``: buckets.parquet is laid out as
hive partitions on ``bh_mod = pmod(bh, P)`` and each batch reads only
the partitions its own band hashes land in (PartitionFilters at the
file listing — the corpus-side scan cost follows the BATCH's bucket
spread, not the corpus size). The layout is recorded in a
``layout.parquet`` marker at state creation and honored by every later
batch; P is immutable for the life of a state dir (a pmod under a
different P would point file pruning at the wrong partitions — the
marker makes that a hard error instead of silent missed candidates).

No reference equivalent: the reference's late-data story is batch
re-ingest (airflow/dags/ingest_binance_last_3_days.py:105-146); this is
the extension VERDICT r2 called the natural next step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from ..session import local_rows
from .dedup import (
    _materialize,
    _minhash_from_hashes,
    band_hashes,
    cluster_pairs,
    shingle_table,
)

def _state_schemas(id_type: str) -> tuple[str, str, str]:
    """State table schemas, parameterized on the caller's id dtype — a
    corpus keyed by string ids must round-trip through the state files
    with the same type (a hardcoded long would silently null string ids
    on read)."""
    return (
        f"fp string, keeper_id {id_type}",
        f"band_id int, bh int, id {id_type}",
        f"id {id_type}, sh array<bigint>",
    )


def _read_state(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """State table, or a typed empty frame before the first batch."""
    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException:
        return spark.createDataFrame([], schema)


def _recorded_partitions(spark: SparkSession, state: str) -> int | None:
    """The bucket-layout marker written at state creation, or None for a
    flat (unpartitioned) state."""
    try:
        row = spark.read.parquet(f"{state}/layout.parquet").first()
        return None if row is None else row["state_partitions"]
    except AnalysisException:
        return None


def _resolve_layout(
    spark: SparkSession, state: str, fp_path: str, state_partitions: int | None
) -> int | None:
    """Reconcile the caller's ``state_partitions`` with the persisted
    layout marker. The marker is authoritative once the state exists;
    the parameter only matters at creation. Mismatches are hard errors —
    pruning by pmod under the wrong P silently misses candidates."""
    recorded = _recorded_partitions(spark, state)
    if recorded is not None:
        if state_partitions is not None and state_partitions != recorded:
            raise ValueError(
                f"state at {state} was created with state_partitions="
                f"{recorded}; got {state_partitions}. P is immutable for "
                "a state dir — compact into a new dir to change it."
            )
        return recorded
    from .metacache import _hadoop_fs

    fs, p = _hadoop_fs(spark, fp_path)
    if state_partitions is not None:
        if fs.exists(p):
            raise ValueError(
                f"state at {state} already exists with a flat bucket "
                "layout; it cannot be re-partitioned in place. Start a "
                "new state dir with state_partitions set from batch 1."
            )
        local_rows(
            spark, [(state_partitions,)], "state_partitions int"
        ).write.parquet(f"{state}/layout.parquet")
    return state_partitions


def dedup_batch(
    docs: DataFrame,
    state_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.85,
    n: int = 3,
    num_perm: int = 16,
    bands: int = 8,
    max_bucket_size: int | None = None,
    state_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Dedupe one batch against itself and the persisted state, then
    append the state for newly-kept docs. Returns (kept, mapping); both
    must be consumed before the NEXT batch runs (state reads are lazy).

    Band/permutation params must stay fixed across the life of a state
    dir — signatures appended under different params would never
    collide. Callers own that contract.

    ``state_partitions=P`` (creation-time only) lays buckets.parquet out
    as hive partitions on pmod(bh, P); later batches prune the corpus
    bucket scan to the partitions their own band hashes touch (see
    module docstring). Later calls inherit P from the state's layout
    marker — passing a different value raises."""
    spark = docs.sparkSession
    state = state_path.rstrip("/")
    fp_path = f"{state}/fingerprints.parquet"
    bucket_path = f"{state}/buckets.parquet"
    shingle_path = f"{state}/shingles.parquet"
    n_parts = _resolve_layout(spark, state, fp_path, state_partitions)

    id_type = dict(docs.dtypes)[id_col]
    fp_schema, bucket_schema, shingle_schema = _state_schemas(id_type)
    if n_parts is not None:
        bucket_schema += ", bh_mod int"
    old_fp = _read_state(spark, fp_path, fp_schema)
    old_buckets = _read_state(spark, bucket_path, bucket_schema)
    old_shingles = _read_state(spark, shingle_path, shingle_schema)

    ids = F.col(id_col)

    # ---- 1. exact pass (existing fingerprints sticky) -----------------
    fp = docs.select(ids.alias("id"), F.md5(F.col(text_col)).alias("fp"))
    batch_keeper = fp.groupBy("fp").agg(F.min("id").alias("batch_keeper"))
    exact_map = _materialize(
        fp.join(batch_keeper, "fp")
        .join(old_fp.withColumnRenamed("keeper_id", "existing_keeper"), "fp", "left")
        .select(
            "id",
            "fp",
            F.coalesce("existing_keeper", "batch_keeper").alias("exact_keeper"),
        )
    )
    survivors = docs.join(
        exact_map.where(F.col("id") == F.col("exact_keeper")).select("id"),
        ids == F.col("id"),
        "left_semi",
    )

    # ---- 2+3. near pass: batch↔batch and batch↔corpus candidates ------
    sh_new = shingle_table(survivors, id_col, text_col, n)
    sig_new = _materialize(
        sh_new.select("id", _minhash_from_hashes(F.col("sh"), num_perm).alias("sig"))
    )
    banded_new = _materialize(
        sig_new.select(
            "id", F.posexplode(band_hashes(F.col("sig"), num_perm, bands)).alias("band_id", "bh")
        )
    )
    if n_parts is not None:
        # File-level pruning: the batch's band hashes land in a known set
        # of bh_mod partitions (≤ n_parts small ints — an O(P) driver
        # collect, not data movement); everything outside that set never
        # leaves the file listing. banded_new is already materialized, so
        # this costs one scan of a batch-sized checkpoint.
        touched_mods = [
            r["m"]
            for r in banded_new.select(
                F.pmod(F.col("bh"), F.lit(n_parts)).alias("m")
            )
            .distinct()
            .collect()
        ]
        old_buckets = old_buckets.where(
            F.col("bh_mod").isin(touched_mods or [-1])
        ).drop("bh_mod")

    def verified(cands: DataFrame, sh_a: DataFrame, sh_b: DataFrame) -> DataFrame:
        return (
            cands.join(sh_a.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
            .join(sh_b.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
            .withColumn(
                "jaccard",
                F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b")),
            )
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b")
        )

    # skew guard (same posture as minhash_candidate_pairs): cap the width
    # of batch-side buckets, and of the CORPUS buckets the batch touches —
    # a boilerplate bucket of width w in the corpus would otherwise emit
    # w × |batch bucket| candidates every single batch
    banded_for_self = banded_new
    old_for_join = old_buckets
    if max_bucket_size is not None:
        ok_new = (
            banded_new.groupBy("band_id", "bh")
            .agg(F.count(F.lit(1)).alias("w"))
            .where(F.col("w") <= max_bucket_size)
            .select("band_id", "bh")
        )
        banded_for_self = banded_new.join(ok_new, ["band_id", "bh"], "left_semi")
        touched = banded_new.select("band_id", "bh").distinct()
        ok_old = (
            old_buckets.join(touched, ["band_id", "bh"], "left_semi")
            .groupBy("band_id", "bh")
            .agg(F.count(F.lit(1)).alias("w"))
            .where(F.col("w") <= max_bucket_size)
            .select("band_id", "bh")
        )
        old_for_join = old_buckets.join(ok_old, ["band_id", "bh"], "left_semi")

    l, r = banded_for_self.alias("l"), banded_for_self.alias("r")
    new_new = verified(
        l.join(
            r,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct(),
        sh_new,
        sh_new,
    )
    new_old = _materialize(
        verified(
            banded_new.alias("n")
            .join(old_for_join.alias("o"), ["band_id", "bh"])
            .select(F.col("n.id").alias("id_a"), F.col("o.id").alias("id_b"))
            .distinct(),
            sh_new,
            old_shingles,
        )
    )

    # ---- 4. sticky clustering ----------------------------------------
    labels = survivors.select(ids.alias("id")).join(
        cluster_pairs(new_new).withColumnRenamed("cluster_id", "lbl"), "id", "left"
    ).select("id", F.coalesce("lbl", "id").alias("lbl"))
    old_keeper_by_lbl = (
        new_old.join(labels, new_old.id_a == labels.id)
        .groupBy("lbl")
        .agg(F.min("id_b").alias("old_keeper"))
    )
    final_by_id = _materialize(
        labels.join(old_keeper_by_lbl, "lbl", "left").select(
            "id", F.coalesce("old_keeper", "lbl").alias("final_keeper")
        )
    )

    # ---- mapping + kept ----------------------------------------------
    mapping = (
        exact_map.join(
            final_by_id.withColumnRenamed("id", "surv_id"),
            exact_map.exact_keeper == F.col("surv_id"),
            "left",
        )
        .select(
            F.col("id").alias(id_col),
            F.coalesce("final_keeper", "exact_keeper").alias("kept_doc_id"),
            F.when(F.col("id") == F.coalesce("final_keeper", "exact_keeper"), "kept")
            .when(F.col("id") != F.col("exact_keeper"), "exact_dup")
            .otherwise("near_dup")
            .alias("reason"),
        )
    )
    kept = docs.join(
        mapping.where(F.col("reason") == "kept").select(F.col("kept_doc_id").alias("__k")),
        ids == F.col("__k"),
        "left_semi",
    )

    # ---- 5. append state (consume mapping-dependent frames FIRST) ----
    new_fps = (
        exact_map.join(
            mapping.select(F.col(id_col).alias("id"), "kept_doc_id"), "id"
        )
        .join(old_fp.select("fp"), "fp", "left_anti")
        .groupBy("fp")
        .agg(F.min("kept_doc_id").alias("keeper_id"))
    )
    new_fps.write.mode("append").parquet(fp_path)

    kept_ids = mapping.where(F.col("reason") == "kept").select(
        F.col("kept_doc_id").alias("id")
    )
    bucket_append = banded_new.join(kept_ids, "id", "left_semi").select(
        "band_id", "bh", "id"
    )
    if n_parts is not None:
        bucket_append.withColumn(
            "bh_mod", F.pmod(F.col("bh"), F.lit(n_parts))
        ).write.mode("append").partitionBy("bh_mod").parquet(bucket_path)
    else:
        bucket_append.write.mode("append").parquet(bucket_path)
    sh_new.join(kept_ids, "id", "left_semi").select("id", "sh").write.mode(
        "append"
    ).parquet(shingle_path)

    return kept, mapping


def streaming_dedup_corpus(
    stream_docs: DataFrame,
    state_path: str,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.85,
    **dedup_kwargs,
):
    """foreachBatch wrapper: each micro-batch is deduped against the
    persisted state and appends kept docs + audit mapping under
    ``out_path``. Returns the UNSTARTED writer (callers pick the
    trigger and call .start()).

    Replay guard: a per-batch commit marker (state_swap.commit_batch,
    written after every append of the batch has landed) makes replays of
    COMMITTED batches skip cleanly — no duplicate state, mapping, or
    corpus rows. The remaining window is a crash between the first
    append and the marker: that batch replays and may duplicate
    bucket/shingle state rows and audit rows (re-drops stay idempotent —
    see module docstring)."""
    out = out_path.rstrip("/")
    commits = f"{state_path.rstrip('/')}/commits"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        from ..lifecycle import barrier_scope
        from .state_swap import batch_committed, commit_batch

        spark = batch_df.sparkSession
        if batch_committed(spark, commits, batch_id):
            return
        with barrier_scope(spark):
            kept, mapping = dedup_batch(
                batch_df, state_path, id_col=id_col, text_col=text_col,
                threshold=threshold, **dedup_kwargs,
            )
            mapping.withColumn("batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(f"{out}/mapping.parquet")
            kept.write.mode("append").parquet(f"{out}/corpus.parquet")
            commit_batch(spark, commits, batch_id)

    return stream_docs.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )


def compact_state(
    spark: SparkSession, state_path: str, files_per_table: int = 4
) -> dict[str, int]:
    """Rewrite the append-only state tables into ``files_per_table`` files
    each — the maintenance job for the many-small-files cost of per-batch
    appends (every batch adds part-files to all three tables; at one batch
    a minute that's thousands of files a day). Same promote-then-delete
    swap and crash-recovery as scale.compact_partitions; MUST NOT run
    concurrently with dedup_batch (the state is single-writer by
    contract). A bh_mod-partitioned bucket table keeps its hive layout —
    ``files_per_table`` then bounds files PER PARTITION. Returns file
    counts per table after compaction."""
    from .scale import compact_partitions

    out: dict[str, int] = {}
    state = state_path.rstrip("/")
    bucket_parts = (
        ["bh_mod"] if _recorded_partitions(spark, state) is not None else []
    )
    for t in ("fingerprints.parquet", "buckets.parquet", "shingles.parquet"):
        path = f"{state}/{t}"
        cols = bucket_parts if t == "buckets.parquet" else []
        try:
            out[t] = compact_partitions(spark, path, cols, target_files_per_partition=files_per_table)
        except AnalysisException:
            continue  # table not created yet (no batch has run)
    return out
