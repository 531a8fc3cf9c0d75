"""Persisted multi-table LSH index — build-once / query-many serving for
random-hyperplane ANN.

`similarity.ann_lsh_topk` re-signs the whole corpus on every call; right
for ad-hoc batch jobs, wrong for a serving tier where the corpus changes
rarely and query batches arrive constantly. This module gives the LSH
family the same index discipline `ivf.py` gives IVF (and round 7's
serve-path kernel): signatures are computed ONCE per corpus and persisted
partitioned by ``(tbl, sig)``, queries are signed DRIVER-SIDE against the
same deterministic hyperplanes (zero Spark jobs of probe planning), only
the probed bucket partitions are listed/read, and scoring is one
Arrow-batched numpy matmul with a tie-safe in-batch top-k prefilter.

Semantics are identical to ``ann_lsh_topk``: candidates = ids sharing any
table's full signature, exact cosine re-rank of candidates only,
``(sim desc, neighbor_id)`` tie order on 4-decimal-rounded sims.

Storage shape: each bucket row carries the full vector, so a probe is
self-contained (read bucket → matmul → done; the corpus never shuffles
and re-rank never rescans it). That duplicates vectors ``n_tables``× —
the classical multi-table LSH memory cost. At 100 TB pick the tier by
corpus size: IVF/IVF-PQ (no duplication, `ivf.py`/`pq.py`) when vectors
dominate storage; this index when serve latency dominates and the vector
tier fits ``n_tables``× (or drop ``n_tables``/raise ``n_planes`` to trade
recall for space).

Build atomicity and staleness mirror ivf.py exactly: ``meta.parquet``
(fingerprint + params) is written LAST so a half-written index reads as
absent, rebuilds land in a temp dir renamed into place, and
``corpus_fingerprint`` (input file names + sampled size/mtime) gates
rebuild-vs-serve.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .ivf import _read_index_fingerprint, corpus_fingerprint
from .metacache import _hadoop_fs, cached_meta
from ..session import local_rows
from .similarity import (
    _hyperplanes,
    _spread,
    ann_lsh_topk,
    pair_cosine_udf,
    rp_signatures_batch,
)

__all__ = ["build_lsh_index", "lsh_query", "lsh_topk", "append_to_lsh_index"]


def build_lsh_index(
    corpus: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    n_tables: int = 12,
    dim: int = 64,
    fingerprint: str | None = None,
) -> None:
    """One signature pass over the corpus (Arrow-batched matmul), exploded
    to ``n_tables`` rows per vector and written partitioned by
    ``(tbl, sig)`` — a query probes exactly one partition per table. Rows
    are clustered per bucket before the write (one file per bucket, not
    tasks × buckets tiny files). ``meta.parquet`` lands LAST: it is the
    build's commit marker (ivf.py discipline)."""
    spark = corpus.sparkSession
    sig_udf = rp_signatures_batch(n_planes, n_tables, dim)
    base = _spread(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v")
    )
    rows = base.select(
        "neighbor_id", "v", F.posexplode(sig_udf("v")).alias("tbl", "sig")
    )
    n_buckets = min(n_tables * (1 << n_planes), 256)
    rows.repartition(n_buckets, "tbl", "sig").write.mode("overwrite").partitionBy(
        "tbl", "sig"
    ).parquet(os.path.join(index_path, "buckets.parquet"))
    meta = [(fingerprint, int(n_planes), int(n_tables), int(dim))]
    local_rows(
        spark, meta, "fingerprint string, n_planes int, n_tables int, dim int"
    ).write.mode("overwrite").parquet(
        os.path.join(index_path, "meta.parquet")
    )


def _index_meta(spark: SparkSession, index_path: str) -> dict:
    """Serve-path metadata, memoized per process on meta.parquet's
    listing (which every rebuild replaces): build params, the bucket
    store's column types, and the set of EXISTING ``(tbl, sig)``
    partition dirs. Loading it costs one tiny parquet read, one footer
    probe, and a two-level dir listing — once per process, not per query
    call. With it, a query call never triggers partition DISCOVERY over
    the whole store (192+ dirs listed per call was the dominant serve
    cost): probed buckets are opened by direct path."""
    meta_path = os.path.join(index_path, "meta.parquet")
    buckets_path = os.path.join(index_path, "buckets.parquet")

    def load():
        r = spark.read.parquet(meta_path).collect()[0]
        fs, bp = _hadoop_fs(spark, buckets_path)
        pairs = []
        first_leaf = None
        for st in fs.listStatus(bp):
            name = st.getPath().getName()
            if not name.startswith("tbl="):
                continue
            t = int(name[4:])
            for st2 in fs.listStatus(st.getPath()):
                name2 = st2.getPath().getName()
                if name2.startswith("sig="):
                    pairs.append((t, int(name2[4:])))
                    if first_leaf is None:
                        first_leaf = f"{buckets_path}/{name}/{name2}"
        leaf = spark.read.parquet(first_leaf).schema
        ntype = leaf["neighbor_id"].dataType.simpleString()
        vtype = leaf["v"].dataType.simpleString()
        return {
            "n_planes": int(r["n_planes"]),
            "n_tables": int(r["n_tables"]),
            "dim": int(r["dim"]),
            "ntype": ntype,
            "read_schema": f"neighbor_id {ntype}, v {vtype}, tbl int, sig long",
            "buckets": frozenset(pairs),
        }

    return cached_meta(spark, meta_path, load)


def lsh_query(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    exclude_self: bool = True,
    max_local_queries: int = 256,
) -> DataFrame:
    """Query a persisted LSH index.

    Serve path (≤ ``max_local_queries`` queries): the batch is collected
    once (bounded — |Q|·dim doubles), signatures are recomputed
    driver-side from the SAME splitmix64 hyperplanes the build used
    (deterministic, so no signature state needs shipping), and the scan
    is filtered to the probed ``tbl=/sig=`` partitions — at most
    |Q|·n_tables buckets of a corpus-sized index. Scoring is one
    Arrow-batched numpy matmul per bucket group with an in-batch
    prefilter that keeps every row tying the k-th rounded sim, so the
    final window rank equals full-candidate ranking exactly. A neighbor
    found in several tables is collapsed by max-sim before ranking
    (identical sims — same kernel, same inputs). Larger query frames
    fall back to the distributed bucket-join plan (same results).

    ``exclude_self`` as in ivf_query: right for corpus-internal kNN,
    WRONG for external query namespaces that can collide with corpus
    ids — serving paths pass False."""
    import numpy as np

    meta = _index_meta(spark, index_path)
    n_planes, n_tables, dim = meta["n_planes"], meta["n_tables"], meta["dim"]
    buckets_path = os.path.join(index_path, "buckets.parquet")

    qrows = (
        queries.select(F.col(id_col), F.col(vec_col))
        .limit(max_local_queries + 1)
        .collect()
    )
    if len(qrows) > max_local_queries:
        return _lsh_query_join(
            spark, index_path, queries, id_col, vec_col, k, exclude_self,
            n_planes, n_tables, dim,
        )

    qtype = queries.schema[id_col].dataType.simpleString()
    out_schema = f"query_id {qtype}, neighbor_id {meta['ntype']}, sim double"
    if not qrows:
        return spark.createDataFrame([], out_schema + ", rk long")

    qids = [r[0] for r in qrows]
    Q = np.asarray([[float(x) for x in r[1]] for r in qrows], dtype=np.float64)
    qn = np.sqrt((Q * Q).sum(axis=1))
    planes = np.asarray(_hyperplanes(n_planes * n_tables, dim))
    bits = (Q @ planes.T) > 0
    weights = 1 << np.arange(n_planes, dtype=np.int64)
    sigs = (bits.reshape(len(qids), n_tables, n_planes) * weights).sum(axis=2)

    bucket_q: dict[tuple[int, int], list[int]] = {}
    for i in range(len(qids)):
        for t in range(n_tables):
            bucket_q.setdefault((t, int(sigs[i, t])), []).append(i)

    # open ONLY the probed buckets by direct path (memoized existence set;
    # empty buckets simply have no dir) with an explicit schema — no
    # store-wide partition discovery, no footer sampling, per call
    probed = sorted(set(bucket_q) & meta["buckets"])
    if not probed:
        return spark.createDataFrame([], out_schema + ", rk long")
    cells = (
        spark.read.option("basePath", buckets_path)
        .schema(meta["read_schema"])
        .parquet(*[f"{buckets_path}/tbl={t}/sig={s}" for t, s in probed])
    )

    packed = (qids, Q, qn, bucket_q, int(k), bool(exclude_self))

    def score(batches):
        import pandas as pd

        l_qids, l_Q, l_qn, l_bucket_q, l_k, l_excl = packed
        for b in batches:
            outs = []
            for (tbl, sig), grp in b.groupby(["tbl", "sig"]):
                idxs = l_bucket_q.get((int(tbl), int(sig)))
                if not idxs:
                    continue
                Cm = np.asarray(grp["v"].tolist(), dtype=np.float64)
                nb = grp["neighbor_id"].to_numpy()
                cn_m = np.sqrt((Cm * Cm).sum(axis=1))
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims = np.round(
                        (l_Q[idxs] @ Cm.T) / np.outer(l_qn[idxs], cn_m), 4
                    )
                for row, qi in enumerate(idxs):
                    s = sims[row]
                    nbr = nb
                    if l_excl:
                        keep_mask = nbr != l_qids[qi]
                        s, nbr = s[keep_mask], nbr[keep_mask]
                    if len(s) > l_k:
                        # keep ALL rows tying the k-th rounded sim: any
                        # global-top-k candidate clears its own bucket's
                        # threshold (bucket ⊆ candidate union), so the
                        # final window ranks exactly as full scoring
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

    scored = (
        cells.mapInPandas(score, schema=out_schema)
        # one neighbor can surface from several tables — identical sims,
        # collapse before ranking; partitioning by query alone serves
        # both this aggregate and the rank window in ONE exchange
        .repartition("query_id")
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("sim").alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim", "rk")
    )


def _lsh_query_join(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    exclude_self: bool,
    n_planes: int,
    n_tables: int,
    dim: int,
) -> DataFrame:
    """Distributed fallback for query batches too large to localize: sign
    the query side (one Arrow pass), equi-join the partitioned bucket
    table on (tbl, sig), re-rank with the vectors the buckets already
    carry — the corpus is never rescanned. Same results as the kernel."""
    sig_udf = rp_signatures_batch(n_planes, n_tables, dim)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    qs = q.select(
        "query_id", "qv", F.posexplode(sig_udf("qv")).alias("tbl", "sig")
    )
    buckets = spark.read.parquet(os.path.join(index_path, "buckets.parquet"))
    scored = qs.join(buckets, ["tbl", "sig"])
    if exclude_self:
        scored = scored.where(F.col("query_id") != F.col("neighbor_id"))
    scored = (
        scored.withColumn("sim", F.round(pair_cosine_udf()(F.col("qv"), F.col("v")), 4))
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("sim").alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim", "rk")
    )


def append_to_lsh_index(
    spark: SparkSession,
    index_path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fingerprint: str | None = None,
    batch_id: int | None = None,
) -> int:
    """Grow a persisted LSH index incrementally: sign the new vectors
    (one Arrow pass over the BATCH, not the corpus) and append them into
    their ``(tbl, sig)`` bucket partitions. Returns vectors appended
    (0 on a skipped replay). The append_to_ivf_index contract verbatim:

    ``fingerprint`` — pass ``corpus_fingerprint(grown_corpus, params)``
    and a later ``lsh_topk(..., index_path=...)`` serves the appended
    index instead of rebuilding; written LAST, so a crash mid-append
    degrades to a rebuild, never wrong answers.

    ``batch_id`` — replay guard via a commit marker under
    ``{index_path}/appends`` (state_swap recipe): a foreachBatch retry
    of an applied batch appends nothing. Streaming maintenance reuses
    ``ivf.streaming_ivf_append(appender=append_to_lsh_index)`` — the
    signatures match by design.

    meta.parquet is rewritten on EVERY append (carrying the old
    fingerprint when none is given): it re-keys the serve path's
    memoized bucket-existence set, so buckets that first appear in this
    batch become probeable without a process restart."""
    from .state_swap import batch_committed, commit_batch

    commits = f"{index_path.rstrip('/')}/appends"
    if batch_id is not None and batch_committed(spark, commits, batch_id):
        return 0
    meta_path = os.path.join(index_path, "meta.parquet")
    m = spark.read.parquet(meta_path).collect()[0]
    n_planes, n_tables, dim = int(m["n_planes"]), int(m["n_tables"]), int(m["dim"])
    base = _spread(new_vectors).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v")
    )
    base = base.localCheckpoint(eager=True)  # count + signature pass, one eval
    n = base.count()
    if n:
        sig_udf = rp_signatures_batch(n_planes, n_tables, dim)
        rows = base.select(
            "neighbor_id", "v", F.posexplode(sig_udf("v")).alias("tbl", "sig")
        )
        n_buckets = min(n_tables * (1 << n_planes), 256)
        rows.repartition(n_buckets, "tbl", "sig").write.mode("append").partitionBy(
            "tbl", "sig"
        ).parquet(os.path.join(index_path, "buckets.parquet"))
    if batch_id is not None:
        commit_batch(spark, commits, batch_id)
    new_fp = fingerprint if fingerprint is not None else m["fingerprint"]
    local_rows(
        spark, [(new_fp, n_planes, n_tables, dim)],
        "fingerprint string, n_planes int, n_tables int, dim int",
    ).write.mode("overwrite").parquet(meta_path)
    return n


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_planes: int = 4,
    n_tables: int = 12,
    dim: int = 64,
    index_path: str | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """LSH ANN top-k. With ``index_path``: build the persisted index there
    IF missing or STALE (corpus_fingerprint gate, temp-dir + rename
    atomicity — the ivf_topk contract verbatim), then serve from it.
    Without: delegate to the in-memory ``ann_lsh_topk`` for ad-hoc use."""
    spark = corpus.sparkSession
    if index_path is None:
        return ann_lsh_topk(
            queries, corpus, id_col, vec_col, k, n_planes, n_tables, dim
        )
    params = f"p{n_planes}|t{n_tables}|d{dim}|{id_col}|{vec_col}"
    want = corpus_fingerprint(corpus, params)
    if _read_index_fingerprint(spark, index_path) != want:
        tmp = f"{index_path}__build_{uuid.uuid4().hex[:8]}"
        build_lsh_index(
            corpus, tmp, id_col, vec_col, n_planes, n_tables, dim,
            fingerprint=want,
        )
        fs, dest = _hadoop_fs(spark, index_path)
        _, tmp_p = _hadoop_fs(spark, tmp)
        if fs.exists(dest):
            fs.delete(dest, True)  # stale (or uncommitted) index
        if not fs.rename(tmp_p, dest):
            fs.delete(tmp_p, True)
            if _read_index_fingerprint(spark, index_path) != want:
                raise RuntimeError(
                    f"LSH index at {index_path} was concurrently replaced "
                    "with a different corpus fingerprint"
                )
    return lsh_query(
        spark, index_path, queries, id_col, vec_col, k, exclude_self
    )
