"""IVF-PQ: product-quantized ANN — the memory-scale tier of the vector
family (similarity.py = LSH, ivf.py = IVF-flat, here = IVF-PQ).

Why a third tier: IVF-flat's cell table stores the FULL vector per row
(D floats ≈ 256 B at D=64); at 100 TB of embeddings the index is as big
as the corpus. PQ (Jégou et al., "Product Quantization for Nearest
Neighbor Search", TPAMI 2011) stores an M-byte code instead: the vector
is split into M subspaces, each quantized against its own ``ksub``-entry
codebook, so a 64-dim float vector compresses 256 B → 8 B at M=8 — a
32× smaller index that fits in executor memory where the flat cells
cannot.

Shape of the implementation:

- **Train** (once, deterministic): a bounded id-hash sample (modulus from
  ``ivf._estimate_rows`` — never a full-corpus count) is collected and
  per-subspace Lloyd runs in numpy on the driver. Driver state is the
  sample (``sample_target`` × D floats, ~2 MB) — the same bounded-metadata
  posture as ivf.py's centroid collection. Seeds are the ksub lowest-id
  subvectors; ties in argmin break to the lowest index: same corpus, same
  params → bit-identical codebook on any cluster layout.
- **Encode** (one scan): an Arrow-batched pandas UDF (codebook in the
  task closure, einsum argmin per batch) maps each vector to its M-byte
  code. No shuffle; the cell write reuses ivf's cell_id partitioning so
  queries still prune unprobed cells at the file listing.
- **Query**: coarse nprobe cell selection (ivf centroids), candidate join
  against the CODE table (M bytes/row moves through the join, not D
  floats), ADC scoring — approx cosine from the codebook alone: the dot
  decomposes per subspace and the reconstructed norm is exactly
  ``sqrt(Σ_m ‖c[m, code_m]‖²)`` (subspaces are orthogonal coordinate
  blocks) — then an exact re-rank of the top ``refine_factor × k``
  survivors against the true vectors (FAISS's IndexRefineFlat recipe).

Cosine note: vectors are L2-normalized before training/encoding, so
inner product == cosine and the PQ L2 objective matches the engine's
cosine semantics.

North-star extension; the reference (a pandas/Kafka/dbt pipeline) has no
vector operations. Build-once/atomic-swap identical to ivf.py.
"""

from __future__ import annotations

import os
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .ivf import (
    _assign,
    _estimate_rows,
    _read_index_fingerprint,
    corpus_fingerprint,
    train_centroids,
)
from .metacache import _hadoop_fs
from .similarity import _spread, cosine

from ..session import local_rows

__all__ = [
    "train_pq_codebook",
    "encode_pq",
    "adc_cosine",
    "build_ivfpq_index",
    "ivfpq_query",
    "ivfpq_topk",
]


def _normalize(X: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return X / norms


def train_pq_codebook(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    iterations: int = 5,
    sample_target: int | None = 4096,
) -> np.ndarray:
    """Deterministic per-subspace Lloyd on a bounded sample; returns the
    codebook as float64 ndarray of shape (m, ksub, dsub).

    The sample is an id-hash filter sized from file statistics (one
    footer read, capped driver RPCs — ``ivf._estimate_rows``), so a
    100 TB corpus is never counted or fully scanned to train. Collected
    sample rows are sorted by id driver-side: the seed set and every
    argmin tie-break are partition-order independent."""
    base = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if sample_target is not None:
        n = _estimate_rows(corpus)
        if n is None:
            n = corpus.count()  # in-memory corpus: nothing to estimate from
        mod = max(1, n // sample_target)
        if mod > 1:
            base = base.where(F.pmod(F.xxhash64(F.col("id")), F.lit(mod)) == 0)
    rows = base.collect()
    rows.sort(key=lambda r: r["id"])
    X = _normalize(np.array([r["v"] for r in rows], dtype=np.float64))
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"vector dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    if len(X) < ksub:
        raise ValueError(f"sample of {len(X)} rows < ksub={ksub}; lower ksub")

    codebook = np.empty((m, ksub, dsub), dtype=np.float64)
    for sub in range(m):
        S = X[:, sub * dsub : (sub + 1) * dsub]
        cents = S[:ksub].copy()  # ksub lowest-id subvectors
        for _ in range(iterations):
            # (n, ksub) squared L2; argmin ties -> lowest index
            d2 = ((S[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(ksub):
                mask = assign == j
                if mask.any():
                    cents[j] = S[mask].mean(axis=0)
                # empty cell keeps its centroid (matches ivf.train_centroids)
        codebook[sub] = cents
    return codebook


def _encode_udf(codebook: np.ndarray):
    """Arrow-batched vector → array<smallint> PQ code (einsum argmin per
    batch). The closure is self-contained (no references to this
    module's globals) — cloudpickle ships module functions BY REFERENCE
    and executors need not have the package importable (the
    _simhash_batch_udf convention)."""
    m, ksub, dsub = codebook.shape
    cb = codebook  # closure; shipped once per task via pickled UDF
    cnorm2 = (cb**2).sum(axis=2)  # (m, ksub)

    @pandas_udf("array<smallint>")
    def _encode(vs: pd.Series) -> pd.Series:
        X = np.stack(vs.to_numpy()).astype(np.float64)
        norms = np.linalg.norm(X, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        X = X / norms
        B = X.reshape(len(X), m, dsub)
        # argmin_j ‖x_m − c_mj‖² = argmin_j (‖c_mj‖² − 2·x_m·c_mj)
        dots = np.einsum("bmd,mjd->bmj", B, cb)
        codes = (cnorm2[None, :, :] - 2.0 * dots).argmin(axis=2).astype(np.int16)
        return pd.Series(list(codes))

    return _encode


def encode_pq(
    df: DataFrame,
    codebook: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, code): each vector's nearest sub-centroid per subspace — one
    Arrow-batched map scan, no shuffle. Codes are array<smallint>:
    M × 2 bytes on disk vs D × 4 for the raw vector (and
    dictionary/RLE-friendly for parquet)."""
    return df.select(
        F.col(id_col).alias("id"), _encode_udf(codebook)(F.col(vec_col)).alias("code")
    )


def adc_cosine(codebook: np.ndarray):
    """Arrow-batched (query_vec, code) -> approx cosine. The reconstructed
    candidate x̂ is the concatenation of its sub-centroids, so
    q·x̂ = Σ_m q_m·c[m, code_m] and ‖x̂‖² = Σ_m ‖c[m, code_m]‖² exactly —
    no full-vector read in the scoring path."""
    m, ksub, dsub = codebook.shape
    cb = codebook
    cnorm2 = (cb**2).sum(axis=2)
    m_idx = np.arange(m)

    @pandas_udf("double")
    def _score(qvs: pd.Series, codes: pd.Series) -> pd.Series:
        Q = np.stack(qvs.to_numpy()).astype(np.float64)
        C = np.stack(codes.to_numpy()).astype(np.int64)  # (B, m)
        gathered = cb[m_idx[None, :], C]  # (B, m, dsub)
        dot = (Q.reshape(len(Q), m, dsub) * gathered).sum(axis=(1, 2))
        xnorm = np.sqrt(cnorm2[m_idx[None, :], C].sum(axis=1))
        qnorm = np.linalg.norm(Q, axis=1)
        denom = np.where((qnorm * xnorm) == 0.0, 1.0, qnorm * xnorm)
        return pd.Series(dot / denom)

    return _score


def build_ivfpq_index(
    corpus: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    m: int = 8,
    ksub: int = 16,
    iterations: int = 2,
    pq_iterations: int = 5,
    sample_target: int | None = 4096,
    fingerprint: str | None = None,
) -> None:
    """Build-once: coarse centroids (ivf.train_centroids) + PQ codebook
    (sampled numpy Lloyd), then ONE corpus scan producing (cell_id, code)
    per row — assignment and encoding fused in the same stage. Layout:

        {index_path}/centroids.parquet           coarse (cid, vec)
        {index_path}/codebook.parquet            (m, j, vec)
        {index_path}/cells.parquet/cell_id=N/    (neighbor_id, code)
        {index_path}/meta.parquet                fingerprint — written LAST
                                                 (the build's commit marker)
    """
    spark = corpus.sparkSession
    centroids = train_centroids(
        corpus, id_col, vec_col, n_centroids, iterations, sample_target
    )
    codebook = train_pq_codebook(
        corpus, id_col, vec_col, m, ksub, pq_iterations, sample_target
    )
    local_rows(
        spark, [(cid, vec) for cid, vec in centroids], "cid INT, vec ARRAY<DOUBLE>"
    ).write.mode("overwrite").parquet(
        os.path.join(index_path, "centroids.parquet")
    )
    local_rows(
        spark,
        [
            (sub, j, [float(x) for x in codebook[sub, j]])
            for sub in range(codebook.shape[0])
            for j in range(codebook.shape[1])
        ],
        "m INT, j INT, vec ARRAY<DOUBLE>",
    ).write.mode("overwrite").parquet(
        os.path.join(index_path, "codebook.parquet")
    )
    # assignment (JVM argmax expression) and PQ encoding (Arrow UDF) are
    # both per-row functions of the vector — ONE projection on one scan,
    # never two scans re-joined on id (a corpus-grain shuffle for nothing)
    assigned = _assign(_spread(corpus), id_col, vec_col, centroids)
    cells = assigned.select(
        F.col("id").alias("neighbor_id"),
        _encode_udf(codebook)(F.col("v")).alias("code"),
        F.col("cell_id"),
    )
    cells.repartition(len(centroids), "cell_id").write.mode("overwrite").partitionBy(
        "cell_id"
    ).parquet(os.path.join(index_path, "cells.parquet"))
    if fingerprint is not None:
        local_rows(
            spark, [(fingerprint,)], "fingerprint STRING"
        ).write.mode("overwrite").parquet(os.path.join(index_path, "meta.parquet"))


def _read_codebook(spark: SparkSession, index_path: str) -> np.ndarray:
    rows = spark.read.parquet(os.path.join(index_path, "codebook.parquet")).collect()
    m = 1 + max(r["m"] for r in rows)
    ksub = 1 + max(r["j"] for r in rows)
    dsub = len(rows[0]["vec"])
    cb = np.empty((m, ksub, dsub), dtype=np.float64)
    for r in rows:
        cb[r["m"], r["j"]] = r["vec"]
    return cb


def ivfpq_query(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    nprobe: int = 4,
    refine_factor: int = 4,
    refine_source: DataFrame | None = None,
    rerank_candidates: int | None = None,
) -> DataFrame:
    """Serve from a persisted IVF-PQ index. Coarse probe (nprobe nearest
    cells per query), candidate join on cell_id (partition-pruned: only
    probed cells are listed/read — and each row is an M-byte code), ADC
    top-R shortlist, then exact cosine re-rank against ``refine_source``
    (id → true vector). Without a refine source the ADC score itself
    ranks the final top-k (pure compressed-domain search).

    ``R = rerank_candidates or refine_factor × k``. ADC codes are lossy
    (the r11 100× pin measured recall 0.868 at R = 40): near-identical
    vectors share a code and tie in ADC, so the true top-k can sit
    anywhere inside the tied band — a small shortlist truncates it. The
    classic fix (FAISS IndexRefineFlat) is a LARGE exact re-rank pool;
    R ≈ 1000 restores recall to the coarse-probe ceiling at negligible
    cost because the re-rank stage below is id-join shaped: only
    (query_id, neighbor_id) pairs are broadcast (R × Q × ~24 B), the
    corpus is scanned once filtered by that broadcast, and query vectors
    join back from the Q-row query frame — query vectors are never
    replicated R times through a broadcast.

    Output matches ivf_query: (query_id, neighbor_id, sim, rk)."""
    cent_rows = spark.read.parquet(
        os.path.join(index_path, "centroids.parquet")
    ).collect()
    centroids = [(r["cid"], [float(x) for x in r["vec"]]) for r in cent_rows]
    codebook = _read_codebook(spark, index_path)

    from .ivf import _centroid_array_col

    cents = _centroid_array_col(centroids)
    q_exploded = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(cents).alias("c"),
    ).select(
        "query_id",
        "qv",
        F.col("c.cid").alias("cell_id"),
        cosine(F.col("qv"), F.col("c.vec")).alias("csim"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("csim").desc(), F.col("cell_id"))
    q_cells = (
        q_exploded.withColumn("rk", F.row_number().over(wq))
        .where(F.col("rk") <= nprobe)
        .select("query_id", "qv", "cell_id")
    )

    cells = spark.read.parquet(os.path.join(index_path, "cells.parquet"))
    score = adc_cosine(codebook)
    cand = (
        cells.join(F.broadcast(q_cells), "cell_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("approx_sim", score(F.col("qv"), F.col("code")))
    )
    R = rerank_candidates if rerank_candidates is not None else refine_factor * k
    wa = Window.partitionBy("query_id").orderBy(
        F.col("approx_sim").desc(), F.col("neighbor_id")
    )
    shortlist = cand.withColumn("ark", F.row_number().over(wa)).where(
        F.col("ark") <= R
    )

    if refine_source is None:
        return (
            shortlist.where(F.col("ark") <= k)
            .select(
                "query_id",
                "neighbor_id",
                F.round(F.col("approx_sim"), 4).alias("sim"),
                F.col("ark").cast("long").alias("rk"),
            )
        )

    vecs = refine_source.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    # id-pairs only into the broadcast (R·Q rows × ~24 B): the full vector
    # table is scanned once and filtered by the pair join, never shuffled;
    # query vectors come back from the Q-row query frame, also broadcast —
    # neither side replicates a vector R times.
    pairs = F.broadcast(shortlist.select("query_id", "neighbor_id"))
    qvs = F.broadcast(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    )
    refined = vecs.join(pairs, "neighbor_id").join(qvs, "query_id").withColumn(
        "sim", F.round(cosine(F.col("qv"), F.col("cv")), 4)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        refined.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim", "rk")
    )


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_centroids: int = 16,
    m: int = 8,
    ksub: int = 16,
    nprobe: int = 4,
    refine_factor: int = 4,
    iterations: int = 2,
    pq_iterations: int = 5,
    index_path: str | None = None,
    sample_target: int | None = 4096,
    refine: bool = True,
    rerank_candidates: int | None = 1024,
) -> DataFrame:
    """IVF-PQ ANN top-k with the ivf_topk contract: with ``index_path``
    the persisted index is built IF missing/stale (corpus fingerprint +
    params, meta-last commit, unique-tmp + atomic rename — identical
    race/crash posture to ivf.ivf_topk) and served from; without, a
    one-shot build serves a single call. ``refine=True`` re-ranks the ADC
    shortlist against the true vectors (recall ≈ IVF-flat at a fraction
    of the index size); ``refine=False`` stays fully compressed-domain.
    ``rerank_candidates`` (default 1024, the r12 recall fix — see
    ivfpq_query) sizes the exact re-rank pool; None falls back to
    ``refine_factor × k``."""
    spark = corpus.sparkSession
    refine_src = corpus if refine else None
    if index_path is not None:
        params = (
            f"pq|k{n_centroids}|m{m}|ks{ksub}|it{iterations}|pit{pq_iterations}"
            f"|s{sample_target}|{id_col}|{vec_col}"
        )
        want = corpus_fingerprint(corpus, params)
        if _read_index_fingerprint(spark, index_path) != want:
            tmp = f"{index_path}__build_{uuid.uuid4().hex[:8]}"
            build_ivfpq_index(
                corpus, tmp, id_col, vec_col, n_centroids, m, ksub,
                iterations, pq_iterations, sample_target, fingerprint=want,
            )
            fs, dest = _hadoop_fs(spark, index_path)
            _, tmp_p = _hadoop_fs(spark, tmp)
            if fs.exists(dest):
                fs.delete(dest, True)  # stale (or uncommitted) index
            if not fs.rename(tmp_p, dest):
                fs.delete(tmp_p, True)
                if _read_index_fingerprint(spark, index_path) != want:
                    raise RuntimeError(
                        f"IVF-PQ index at {index_path} was concurrently "
                        "replaced with a different corpus fingerprint"
                    )
        return ivfpq_query(
            spark, index_path, queries, id_col, vec_col, k, nprobe,
            refine_factor, refine_src, rerank_candidates,
        )

    tmp = None
    try:
        # one-shot path still goes through the on-disk layout (the encode +
        # cell write IS the work; an in-memory twin would duplicate it)
        import tempfile

        tmp = tempfile.mkdtemp(prefix="ivfpq_oneshot_")
        build_ivfpq_index(
            corpus, tmp, id_col, vec_col, n_centroids, m, ksub,
            iterations, pq_iterations, sample_target,
        )
        out = ivfpq_query(
            spark, tmp, queries, id_col, vec_col, k, nprobe,
            refine_factor, refine_src, rerank_candidates,
        )
        # materialize before the temp dir can be reclaimed by the caller
        return out.localCheckpoint(eager=True)
    finally:
        if tmp is not None:
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)


def append_to_ivfpq_index(
    spark: SparkSession,
    index_path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fingerprint: str | None = None,
    batch_id: int | None = None,
) -> int:
    """Grow a persisted IVF-PQ index without retraining (the ivf.py
    append_to_ivf_index contract): assign new vectors to the existing
    coarse centroids AND encode them against the existing codebook in
    one scan, append the (neighbor_id, code) rows into their cell
    partitions. Returns rows appended (0 on a skipped replay).

    Codebook drift caveat is sharper than IVF-flat's: appended vectors
    are quantized by codebooks trained on the ORIGINAL distribution, so
    both cell routing and code fidelity decay as the distribution
    shifts — rebuild when refined recall drops. ``fingerprint`` /
    ``batch_id`` semantics match append_to_ivf_index (meta written last;
    commit markers under {index_path}/appends/)."""
    from .state_swap import batch_committed, commit_batch

    commits = f"{index_path.rstrip('/')}/appends"
    if batch_id is not None and batch_committed(spark, commits, batch_id):
        return 0
    cent_rows = spark.read.parquet(
        os.path.join(index_path, "centroids.parquet")
    ).collect()
    centroids = [(r["cid"], [float(x) for x in r["vec"]]) for r in cent_rows]
    codebook = _read_codebook(spark, index_path)
    assigned = _assign(_spread(new_vectors), id_col, vec_col, centroids)
    cells = assigned.select(
        F.col("id").alias("neighbor_id"),
        _encode_udf(codebook)(F.col("v")).alias("code"),
        F.col("cell_id"),
    ).localCheckpoint(eager=True)
    n = cells.count()
    if n:
        cells.repartition(len(centroids), "cell_id").write.mode("append").partitionBy(
            "cell_id"
        ).parquet(os.path.join(index_path, "cells.parquet"))
    if batch_id is not None:
        commit_batch(spark, commits, batch_id)
    if fingerprint is not None:
        local_rows(
            spark, [(fingerprint,)], "fingerprint STRING"
        ).write.mode("overwrite").parquet(os.path.join(index_path, "meta.parquet"))
    return n
