"""IVF (inverted-file) approximate nearest neighbor — the coarse-quantizer
scale path alongside the RP-LSH variant (similarity.py).

Build (once): deterministic k-means over a SAMPLE of the corpus — seeds are
the k lowest-id vectors (reproducible, no RNG), refined by Lloyd iterations
executed as DataFrame jobs (assign = broadcast-centroid argmin via min_by;
update = per-dimension mean via posexplode + groupBy). The sample is an
id-hash filter (``xxhash64(id) % m == 0``) so it is deterministic under any
partitioning and never scans more than once. Centroids land on the driver
(k × dim floats — tiny) and are persisted with the cell-assigned corpus:

    {index_path}/centroids.parquet          (cid, vec)
    {index_path}/cells.parquet/cell_id=N/   (neighbor_id, cv)

Query (many): read centroids (k rows), pick the ``nprobe`` nearest cells
per query, join against the cell-partitioned corpus, exact cosine re-rank
inside the probed cells. Candidates ∝ nprobe/k of the corpus — the classic
recall/cost dial.

At 100 TB: build is one sampled-train pass + one assignment scan, amortized
over every subsequent query batch; ``cells.parquet`` is partitioned by
cell_id, so the probe join prunes unprobed cells at the file-listing level
(static ``isin`` pruning here; dynamic partition pruning on a broadcast
probe side in a real warehouse). No full-corpus work ever runs in the query
path.
"""

from __future__ import annotations

import hashlib
import os
import uuid

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.errors import AnalysisException

from .metacache import _hadoop_fs, cached_meta
from .similarity import _spread, cosine, pair_cosine_udf

from ..session import local_rows


# --------------------------------------------------------------------------
# Index identity: fingerprint + filesystem helpers
# --------------------------------------------------------------------------

def corpus_fingerprint(corpus: DataFrame, params: str, max_status_calls: int = 100) -> str:
    """Identity of (corpus contents, build params): every input file NAME
    plus size+mtime for the first ``max_status_calls`` of them (statuses go
    through one driver RPC each — capped so a million-file corpus doesn't
    stall the driver; regenerated data virtually always changes names or
    the sampled statuses). An in-memory corpus has no input files — the
    fingerprint then covers params only, i.e. no staleness protection
    (documented build-once contract is for file-backed corpora)."""
    spark = corpus.sparkSession
    files = sorted(corpus.inputFiles())
    parts = [params, str(len(files))]
    for i, f in enumerate(files):
        if i < max_status_calls:
            fs, p = _hadoop_fs(spark, f)
            st = fs.getFileStatus(p)
            parts.append(f"{f}:{st.getLen()}:{st.getModificationTime()}")
        else:
            parts.append(f)
    return hashlib.sha1("|".join(parts).encode()).hexdigest()


def _read_index_fingerprint(spark: SparkSession, index_path: str) -> str | None:
    """Fingerprint persisted beside the index, or None if absent/unreadable
    (a half-written index has no meta — meta is written LAST, so it doubles
    as the build's commit marker).

    Memoized per meta-dir listing (operators/metacache): every *_topk
    serve call pays this read before any real work, and it is a full
    Spark job for one row — a serving tier validates the index once per
    build, not per query. Rebuilds rewrite meta.parquet, so the listing
    key self-invalidates; an absent dir is never cached.

    Only a MISSING path reads as "index absent" (ADVICE r12): any other
    listing failure (transient FS/RPC error) propagates instead of
    silently triggering a rebuild over a live index."""
    meta_path = os.path.join(index_path, "meta.parquet")

    def load() -> str | None:
        try:
            rows = spark.read.parquet(meta_path).collect()
        except AnalysisException:
            return None
        return rows[0]["fingerprint"] if rows else None

    return cached_meta(spark, meta_path, load, ns="fingerprint")


def _centroid_array_col(centroids: list[tuple[int, list[float]]]) -> Column:
    """Centroids as a literal array<struct<cid,vec>> column."""
    return F.array(
        *[
            F.struct(F.lit(cid).alias("cid"), F.array(*[F.lit(x) for x in vec]).alias("vec"))
            for cid, vec in centroids
        ]
    )


def _assign(df: DataFrame, id_col: str, vec_col: str, centroids) -> DataFrame:
    """(id, vec, cell_id): nearest centroid by cosine as a PURE MAP — the
    per-row argmax runs inside one transform/array_max expression (struct
    ordering compares sim first), so assignment is a single scan with no
    explode fan-out and no shuffle. At 100 TB this is the difference
    between a map stage and a 16×-row exchange."""
    cents = _centroid_array_col(centroids)
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    best = F.array_max(
        F.transform(
            cents,
            lambda c: F.struct(
                cosine(F.col("v"), c["vec"]).alias("sim"), c["cid"].alias("cid")
            ),
        )
    )
    return base.select("id", F.col("v"), best["cid"].alias("cell_id"))


def _estimate_rows(corpus: DataFrame, max_status_calls: int = 100) -> int | None:
    """Cheap row-count estimate for sizing the training-sample modulus:
    bytes-per-row from ONE file (footer-level count of a single parquet
    file) scaled to the corpus's total byte size (file statuses capped at
    ``max_status_calls`` driver RPCs, extrapolating the mean beyond that —
    same posture as corpus_fingerprint). Never scans the corpus. Returns
    None for in-memory corpora (no input files) so the caller can fall
    back. The modulus only needs order-of-magnitude accuracy, so a
    filtered-view corpus overestimating n (smaller sample) is fine."""
    files = sorted(corpus.inputFiles())
    if not files:
        return None
    spark = corpus.sparkSession
    sampled = files[:max_status_calls]
    sizes = []
    for f in sampled:
        fs, p = _hadoop_fs(spark, f)
        sizes.append(fs.getFileStatus(p).getLen())
    if sizes[0] == 0:
        return None
    probe_rows = spark.read.parquet(sampled[0]).count()  # one file, footer-level
    if probe_rows == 0:
        return None
    total_bytes = (sum(sizes) / len(sampled)) * len(files)
    return max(1, int(total_bytes * probe_rows / sizes[0]))


def train_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    iterations: int = 2,
    sample_target: int | None = 4096,
) -> list[tuple[int, list[float]]]:
    """Deterministic k-means: seed with the k lowest-id vectors, refine with
    Lloyd iterations over a deterministic id-hash sample of ~``sample_target``
    vectors (pass None to train on the full corpus). Lloyd on a sample is the
    standard scale posture: centroid quality degrades negligibly while the
    per-iteration cost drops from O(corpus) to O(sample). The sample modulus
    is sized from file statuses + one single-file footer count — at 100 TB
    the build never pays a full-corpus count just to pick a modulus; only
    in-memory (fileless) corpora fall back to ``count()``."""
    seeds = (
        corpus.orderBy(id_col)
        .limit(k)
        .select(F.col(vec_col).alias("v"))
        .collect()
    )
    centroids = [(i, [float(x) for x in r["v"]]) for i, r in enumerate(seeds)]
    base = corpus.select(F.col(id_col).alias(id_col), F.col(vec_col).alias(vec_col))
    if sample_target is not None:
        n = _estimate_rows(corpus)
        if n is None:
            n = corpus.count()  # in-memory corpus: nothing to estimate from
        m = max(1, n // sample_target)
        if m > 1:
            # id-hash filter: deterministic under any partitioning/ordering,
            # unlike df.sample() whose draw depends on split boundaries
            base = base.where(F.pmod(F.xxhash64(F.col(id_col)), F.lit(m)) == 0)
    base = _spread(base)
    for _ in range(iterations):
        assigned = _assign(base, id_col, vec_col, centroids)
        dim_means = (
            assigned.select("cell_id", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell_id", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in dim_means:
            by_cell.setdefault(r["cell_id"], {})[r["pos"]] = r["m"]
        new = []
        for cid, old in centroids:
            if cid in by_cell:
                dims = by_cell[cid]
                new.append((cid, [dims[i] for i in range(len(old))]))
            else:
                new.append((cid, old))  # empty cell keeps its centroid
        centroids = new
    return centroids


def build_ivf_index(
    corpus: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    iterations: int = 2,
    sample_target: int | None = 4096,
    fingerprint: str | None = None,
) -> None:
    """Build-once: train centroids on a sample, assign EVERY corpus vector
    to its cell (one broadcast-argmin scan), persist both. ``cells.parquet``
    is partitioned by cell_id so queries read only probed cells.

    ``fingerprint`` (corpus identity, see corpus_fingerprint) is persisted
    LAST in ``meta.parquet`` — readers treat an index without matching meta
    as absent, so a crash mid-build can never serve a half-written index."""
    spark = corpus.sparkSession
    centroids = train_centroids(corpus, id_col, vec_col, n_centroids, iterations, sample_target)
    local_rows(
        spark, [(cid, vec) for cid, vec in centroids], "cid INT, vec ARRAY<DOUBLE>"
    ).write.mode("overwrite").parquet(os.path.join(index_path, "centroids.parquet"))
    cells = _assign(_spread(corpus), id_col, vec_col, centroids).select(
        F.col("id").alias("neighbor_id"), F.col("v").alias("cv"), F.col("cell_id")
    )
    # cluster rows by cell before the partitioned write: one file per cell
    # instead of (tasks × cells) tiny files
    cells.repartition(n_centroids, "cell_id").write.mode("overwrite").partitionBy(
        "cell_id"
    ).parquet(os.path.join(index_path, "cells.parquet"))
    if fingerprint is not None:
        local_rows(
            spark, [(fingerprint,)], "fingerprint STRING"
        ).write.mode("overwrite").parquet(os.path.join(index_path, "meta.parquet"))


def ivf_query(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    nprobe: int = 4,
    exclude_self: bool = True,
    max_local_queries: int = 4096,
) -> DataFrame:
    """Query a persisted IVF index.

    Serve path (queries ≤ ``max_local_queries``): the query batch is
    collected ONCE (bounded: |Q|·dim doubles — the serving contract is a
    small per-call batch against a huge corpus), probe planning runs
    driver-side against the memoized centroid table (zero Spark jobs),
    only the probed ``cell_id=`` partitions are listed/read, and scoring
    is ONE Arrow-batched numpy matmul over the cell rows with an
    in-batch top-k prefilter — the corpus never shuffles and never pays
    the interpreted per-element cost of Catalyst higher-order-function
    cosine (measured ~6× slower than the matmul kernel at sf0.1). The
    prefilter keeps every row tying the k-th rounded sim, so the final
    window rank is exactly the full-scoring rank. Larger query frames
    fall back to the distributed broadcast-join plan (same results).

    ``exclude_self`` drops hits whose id equals the query id — right for
    corpus-internal kNN (a vector is trivially its own neighbor), WRONG
    for external queries whose ids live in a separate namespace: there a
    numeric collision would silently delete a legitimate doc from the
    ranking. Serving paths (retrieval.hybrid_search) pass False.

    The centroid table is memoized per process keyed on its dir listing
    (operators/metacache): a serving tier loads centroids once, not per
    query call; rebuilds swap the dir, so the memo self-invalidates."""
    cent_path = os.path.join(index_path, "centroids.parquet")
    centroids = cached_meta(
        spark,
        cent_path,
        lambda: [
            (r["cid"], [float(x) for x in r["vec"]])
            for r in spark.read.parquet(cent_path).collect()
        ],
    )

    qrows = (
        queries.select(F.col(id_col), F.col(vec_col))
        .limit(max_local_queries + 1)
        .collect()
    )
    if len(qrows) > max_local_queries:
        return _ivf_query_join(
            spark, index_path, queries, centroids, id_col, vec_col, k, nprobe,
            exclude_self,
        )

    import numpy as np

    cells_path = os.path.join(index_path, "cells.parquet")
    qtype = queries.schema[id_col].dataType.simpleString()
    ntype = spark.read.parquet(cells_path).schema["neighbor_id"].dataType.simpleString()
    out_schema = f"query_id {qtype}, neighbor_id {ntype}, sim double"
    if not qrows:
        return spark.createDataFrame([], out_schema + ", rk long")

    qids = [r[0] for r in qrows]
    Q = np.asarray([[float(x) for x in r[1]] for r in qrows], dtype=np.float64)
    cids = [int(cid) for cid, _ in centroids]
    C = np.asarray([vec for _, vec in centroids], dtype=np.float64)
    qn = np.sqrt((Q * Q).sum(axis=1))
    cn = np.sqrt((C * C).sum(axis=1))
    with np.errstate(divide="ignore", invalid="ignore"):
        csims = (Q @ C.T) / np.outer(qn, cn)
    # per query: nprobe nearest cells by (csim desc, cell_id asc) — the
    # exact tie order the distributed plan's window uses
    cell_q: dict[int, list[int]] = {}
    for i in range(len(qids)):
        ranked = sorted(range(len(cids)), key=lambda j: (-csims[i, j], cids[j]))
        for j in ranked[:nprobe]:
            cell_q.setdefault(cids[j], []).append(i)
    probed = sorted(cell_q)

    if not probed:
        return spark.createDataFrame([], out_schema + ", rk long")
    cells = spark.read.parquet(cells_path).where(F.col("cell_id").isin(probed))

    # closure state: |Q|·dim doubles + probe lists — MBs at the cap
    packed = (qids, Q, qn, cell_q, int(k), bool(exclude_self))

    def score(batches):
        import pandas as pd

        l_qids, l_Q, l_qn, l_cell_q, l_k, l_excl = packed
        for b in batches:
            outs = []
            for cid, grp in b.groupby("cell_id"):
                idxs = l_cell_q.get(int(cid))
                if not idxs:
                    continue
                Cm = np.asarray(grp["cv"].tolist(), dtype=np.float64)
                nb = grp["neighbor_id"].to_numpy()
                cn_m = np.sqrt((Cm * Cm).sum(axis=1))
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims = np.round(
                        (l_Q[idxs] @ Cm.T)
                        / np.outer(l_qn[idxs], cn_m),
                        4,
                    )
                for row, qi in enumerate(idxs):
                    s = sims[row]
                    nbr = nb
                    if l_excl:
                        keep_mask = nbr != l_qids[qi]
                        s, nbr = s[keep_mask], nbr[keep_mask]
                    if len(s) > l_k:
                        # keep ALL rows tying the k-th rounded sim: the
                        # global window then ranks exactly as full scoring
                        thr = np.partition(s, len(s) - l_k)[len(s) - l_k]
                        keep = s >= thr
                        s, nbr = s[keep], nbr[keep]
                    if len(s):
                        outs.append(
                            pd.DataFrame(
                                {
                                    "query_id": [l_qids[qi]] * len(s),
                                    "neighbor_id": nbr,
                                    "sim": s,
                                }
                            )
                        )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    scored = cells.mapInPandas(score, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim", "rk")
    )


def _ivf_query_join(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    centroids: list,
    id_col: str,
    vec_col: str,
    k: int,
    nprobe: int,
    exclude_self: bool,
) -> DataFrame:
    """Distributed fallback for query batches too large to localize:
    nprobe nearest cells per query against the centroid literal, then an
    equi-join on cell_id against the partitioned cell table and an exact
    cosine re-rank. Same results as the serve-path kernel."""
    cents = _centroid_array_col(centroids)
    q_exploded = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), F.explode(cents).alias("c")
    ).select(
        "query_id", "qv", F.col("c.cid").alias("cell_id"), cosine(F.col("qv"), F.col("c.vec")).alias("csim")
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("csim").desc(), F.col("cell_id"))
    q_cells = (
        q_exploded.withColumn("rk", F.row_number().over(wq))
        .where(F.col("rk") <= nprobe)
        .select("query_id", "qv", "cell_id")
    )

    cells = spark.read.parquet(os.path.join(index_path, "cells.parquet"))
    scored = cells.join(F.broadcast(q_cells), "cell_id")
    if exclude_self:
        scored = scored.where(F.col("query_id") != F.col("neighbor_id"))
    scored = scored.withColumn(
        "sim", F.round(pair_cosine_udf()(F.col("qv"), F.col("cv")), 4)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim", "rk")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_centroids: int = 16,
    nprobe: int = 4,
    iterations: int = 2,
    index_path: str | None = None,
    sample_target: int | None = 4096,
) -> DataFrame:
    """IVF ANN top-k. With ``index_path``: build the persisted index there
    IF missing or STALE, then serve from it — repeat calls over unchanged
    data never retrain (the build-once/query-many contract). Without:
    one-shot in-memory build (sampled train + assignment barrier) for
    ad-hoc use.

    Staleness/atomicity: the index carries a fingerprint of the corpus
    input files (names + size + mtime) and build params; a mismatch — data
    regenerated in place, params changed, or a half-written index from a
    crashed build (meta is written last) — triggers a rebuild. The rebuild
    lands in a unique temp dir and is renamed into place via the Hadoop FS
    API (scheme-agnostic), so two concurrent builders can't interleave
    writes; the loser of the rename race validates and serves the winner's
    index. Readers mid-swap of a STALE index may transiently miss the dir
    (standard non-transactional-table caveat; same-data rebuilds never
    swap)."""
    spark = corpus.sparkSession
    if index_path is not None:
        params = f"k{n_centroids}|it{iterations}|s{sample_target}|{id_col}|{vec_col}"
        want = corpus_fingerprint(corpus, params)
        if _read_index_fingerprint(spark, index_path) != want:
            tmp = f"{index_path}__build_{uuid.uuid4().hex[:8]}"
            build_ivf_index(
                corpus, tmp, id_col, vec_col, n_centroids, iterations, sample_target,
                fingerprint=want,
            )
            fs, dest = _hadoop_fs(spark, index_path)
            _, tmp_p = _hadoop_fs(spark, tmp)
            if fs.exists(dest):
                fs.delete(dest, True)  # stale (or uncommitted) index
            if not fs.rename(tmp_p, dest):
                # concurrent builder won the race — use theirs if it's the
                # same corpus, otherwise surface the conflict
                fs.delete(tmp_p, True)
                if _read_index_fingerprint(spark, index_path) != want:
                    raise RuntimeError(
                        f"IVF index at {index_path} was concurrently replaced "
                        "with a different corpus fingerprint"
                    )
        return ivf_query(spark, index_path, queries, id_col, vec_col, k, nprobe)

    centroids = train_centroids(corpus, id_col, vec_col, n_centroids, iterations, sample_target)
    corpus_cells = _assign(
        _spread(corpus), id_col, vec_col, centroids
    ).select(F.col("id").alias("neighbor_id"), F.col("cell_id"), F.col("v").alias("cv"))
    corpus_cells = corpus_cells.localCheckpoint(eager=True)

    cents = _centroid_array_col(centroids)
    q_exploded = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), F.explode(cents).alias("c")
    ).select(
        "query_id", "qv", F.col("c.cid").alias("cell_id"), cosine(F.col("qv"), F.col("c.vec")).alias("csim")
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("csim").desc(), F.col("cell_id"))
    q_cells = (
        q_exploded.withColumn("rk", F.row_number().over(wq))
        .where(F.col("rk") <= nprobe)
        .select("query_id", "qv", "cell_id")
    )

    scored = (
        q_cells.join(corpus_cells, "cell_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", F.round(cosine(F.col("qv"), F.col("cv")), 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim", "rk")
    )


def append_to_ivf_index(
    spark: SparkSession,
    index_path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fingerprint: str | None = None,
    batch_id: int | None = None,
) -> int:
    """Grow a persisted IVF index WITHOUT retraining: assign the new
    vectors to the existing centroids (one broadcast-argmin scan) and
    append them into their cell partitions. Returns rows appended (0 on
    a skipped replay).

    The index-maintenance path for an arriving corpus: a full
    `build_ivf_index` re-scans everything; an append touches only the
    batch. Centroids drift from optimal as the distribution shifts —
    the standard IVF operations trade-off; rebuild when recall decays.

    ``fingerprint``: pass `corpus_fingerprint(grown_corpus, params)` and
    a subsequent `ivf_topk(queries, grown_corpus, index_path=...)` will
    serve the appended index instead of rebuilding. Written LAST, so a
    crash mid-append leaves a stale fingerprint and the next build-gated
    call rebuilds — wasted work, never wrong answers.

    ``batch_id``: replay guard via a commit marker under
    ``{index_path}/appends/`` (the state_swap.commit_batch recipe) —
    a foreachBatch retry of an already-applied batch appends nothing,
    so streaming maintenance is exactly-once at the cell-table level."""
    from .state_swap import batch_committed, commit_batch

    commits = f"{index_path.rstrip('/')}/appends"
    if batch_id is not None and batch_committed(spark, commits, batch_id):
        return 0
    cent_rows = spark.read.parquet(os.path.join(index_path, "centroids.parquet")).collect()
    centroids = [(r["cid"], [float(x) for x in r["vec"]]) for r in cent_rows]
    assigned = _assign(_spread(new_vectors), id_col, vec_col, centroids).select(
        F.col("id").alias("neighbor_id"), F.col("v").alias("cv"), F.col("cell_id")
    )
    assigned = assigned.localCheckpoint(eager=True)  # count + write, one eval
    n = assigned.count()
    if n:
        assigned.repartition(len(centroids), "cell_id").write.mode("append").partitionBy(
            "cell_id"
        ).parquet(os.path.join(index_path, "cells.parquet"))
    if batch_id is not None:
        commit_batch(spark, commits, batch_id)
    if fingerprint is not None:
        spark.createDataFrame([(fingerprint,)], "fingerprint STRING").coalesce(
            1
        ).write.mode("overwrite").parquet(os.path.join(index_path, "meta.parquet"))
    return n


def streaming_ivf_append(
    vectors_stream,
    index_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trigger_seconds: int = 5,
    available_now: bool = False,
    appender=None,
):
    """Streaming index maintenance: each micro-batch of arriving vectors
    appends into the persisted index via ``append_to_ivf_index`` with the
    batch id as the replay guard — checkpoint replays re-deliver the
    batch, the commit marker skips it, and the cell table stays
    exactly-once. ``appender`` swaps in append_to_ivfpq_index (same
    signature) for a PQ index. The index must already exist (bootstrap
    with build_ivf_index / ivf_topk over the seed corpus — centroids
    cannot be trained on an empty stream)."""
    fn = appender or append_to_ivf_index

    def handle(batch_df, batch_id: int) -> None:
        fn(
            batch_df.sparkSession, index_path, batch_df,
            id_col=id_col, vec_col=vec_col, batch_id=int(batch_id),
        )

    writer = vectors_stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
