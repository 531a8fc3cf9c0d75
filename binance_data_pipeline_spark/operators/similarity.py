"""Embedding similarity search over array<float> columns.

Two tiers, as a 100 TB pipeline needs:

- ``cosine_topk_brute``: exact brute-force top-k — the correctness baseline.
  Cost is O(|queries|·|corpus|); usable when one side is small
  enough to broadcast (the usual "few queries against a big corpus" shape:
  broadcast queries, scan corpus once, per-partition top-k then global
  top-k — no full shuffle of the corpus).
- ``ann_lsh_topk``: approximate path — random-hyperplane (SimHash-style)
  signatures over the embedding, candidates from signature-prefix buckets,
  exact cosine re-rank on candidates only. Deterministic (fixed hyperplane
  constants), no MLlib model state, single bucket shuffle.

Scoring kernels (optimization round 12): Catalyst higher-order functions
are CodegenFallback — every element of every vector pays interpreted
expression dispatch, measured ~10-25× slower than a vectorized batch for
dense float math. All exact-cosine legs therefore run as Arrow-batched
numpy kernels that reproduce the HOF result BIT-FOR-BIT: products in
float64 accumulated LEFT-TO-RIGHT (``np.cumsum`` is sequential, exactly
the ``aggregate(acc + v)`` fold), rounding left to Catalyst. The pure-
Column ``cosine``/``_dot``/``_norm`` stay for plan-level callers
(distributed fallbacks, tests); per-pair scoring goes through
``pair_cosine_udf`` (candidates-sized, vectors attached by join — the
100 TB shape), and the O(n²) legs use a localized-corpus matmul scan
with a documented row cap and automatic fallback.

North-star extension; the reference has no vector operations.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _spread(df: DataFrame) -> DataFrame:
    """Spread CPU-bound per-vector work across cores (a single small
    parquet file arrives as one input split; no-op at real scale where
    the file count provides parallelism).

    Decision keys off `inputFiles()` (a logical-plan walk) rather than
    `df.rdd.getNumPartitions()`, which forces a plan→RDD conversion per
    call. Non-file sources (in-memory test frames) are left untouched."""
    # cap at 64: a vanilla session's 200 default would fragment small
    # inputs into tiny tasks whose scheduling overhead exceeds the work
    target = min(int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")), 64)
    try:
        n_files = len(df.inputFiles())
    except Exception:  # exotic plan without file provenance
        n_files = 0
    if 0 < n_files < target:
        return df.repartition(target)
    return df


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


# --------------------------------------------------------------------------
# Arrow-batched exact-cosine kernels (bit-identical to the HOF fold)
# --------------------------------------------------------------------------

def _make_seq_sum():
    """Left-to-right float64 row sums of a (B, dim) product matrix —
    ``np.cumsum`` accumulates sequentially, so the result is bit-identical
    to the Catalyst ``aggregate(…, 0.0, acc + v)`` fold (0.0 + v0 == v0
    exactly; every later step adds one element in order). A plain
    ``.sum(axis=1)`` would use pairwise summation and drift by ulps.

    Returned as a NESTED function so executor closures capture it BY
    VALUE: the driver's session may not ship this package to Python
    workers (the harness drives `__spark_entry__` from a vanilla
    SparkSession), and cloudpickle serializes module-level functions by
    reference — a worker-side import that must not be required."""
    import numpy as np

    def seq_sum(prod):
        if prod.shape[1] == 0:
            return np.zeros(prod.shape[0], dtype=np.float64)
        return np.cumsum(prod, axis=1)[:, -1]

    return seq_sum


#: driver-side uses (norm precomputation in _localized)
_seq_sum = _make_seq_sum()


def pair_cosine_udf():
    """pandas_udf: exact cosine over (va, vb) pair columns — the verify
    kernel for candidate pairs whose vectors a join already attached
    (candidates-sized, the scale-safe shape). NULL in, NULL out, exactly
    like the HOF expression (a null or length-mismatched pair yields a
    null sim there via zip_with's null padding).

    Null/NaN semantics at the Arrow boundary (measured, r13): pandas →
    Arrow converts float64 NaN to SQL NULL, so (a) vectors with null
    ELEMENTS — which Arrow → pandas hands the kernel as NaN — score NULL,
    the same NULL the HOF's null propagation yields; (b) vectors whose
    exact sim is genuinely NaN (zero norms, NaN data) ALSO score NULL,
    where the HOF yields NaN — NULL ranks last in desc windows and fails
    ``>= threshold`` while NaN ranks first and passes. The kernels are
    therefore conservative for degenerate vectors: they exclude what the
    HOF would top-rank. No testdata vector is degenerate (oracle-pinned);
    documented as the one intentional divergence (ADVICE r12)."""
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("double")
    def pc(va: pd.Series, vb: pd.Series) -> pd.Series:
        a_vals, b_vals = va.to_numpy(), vb.to_numpy()
        n = len(a_vals)
        la = np.fromiter(
            (len(v) if v is not None else -1 for v in a_vals), np.int64, count=n
        )
        lb = np.fromiter(
            (len(v) if v is not None else -1 for v in b_vals), np.int64, count=n
        )
        ok = (la >= 0) & (la == lb)
        if ok.all() and n and (la == la[0]).all():
            # uniform batch (the candidate-verify shape): one block
            A = np.asarray([np.asarray(v, dtype=np.float64) for v in a_vals])
            B = np.asarray([np.asarray(v, dtype=np.float64) for v in b_vals])
            sims = _seq_sum(A * B) / (
                np.sqrt(_seq_sum(A * A)) * np.sqrt(_seq_sum(B * B))
            )
            return pd.Series(sims)
        out = pd.array([None] * n, dtype="Float64")
        by_dim: dict[int, list[int]] = {}
        for i in np.nonzero(ok)[0]:
            by_dim.setdefault(int(la[i]), []).append(int(i))
        for _dim, idxs in by_dim.items():
            A = np.asarray([np.asarray(a_vals[i], dtype=np.float64) for i in idxs])
            B = np.asarray([np.asarray(b_vals[i], dtype=np.float64) for i in idxs])
            sims = _seq_sum(A * B) / (
                np.sqrt(_seq_sum(A * A)) * np.sqrt(_seq_sum(B * B))
            )
            for j, i in enumerate(idxs):
                out[i] = sims[j]
        return pd.Series(out, dtype="Float64")

    return pc


#: Localized-corpus cap (rows) for the O(n²) kernels. Above it the
#: operators fall back to the distributed join plan — the cap bounds
#: driver/executor memory (rows × dim × 8 B ≤ ~100s of MB), and is a
#: production knob, not a local[32] tuning.
MAX_LOCAL_CORPUS = int(os.environ.get("BDP_MAX_LOCAL_CORPUS", "200000"))

#: corpus fingerprint -> (ids, V, norms, broadcast) — see _localized.
_LOCAL_VEC_MEMO: dict[str, tuple] = {}

#: File-byte pre-gate for localization: parquet float32 vectors expand
#: ~2-3× into the float64 driver matrix, so corpora whose INPUT FILES
#: already exceed this never even start the collect (ADVICE r12: the
#: row cap alone let a high-dim corpus materialize GBs driver-side
#: before the post-collect byte ceiling rejected it).
MAX_LOCAL_CORPUS_FILE_BYTES = int(
    os.environ.get("BDP_MAX_LOCAL_CORPUS_FILE_BYTES", str(512 << 20))
)


def _localized(df: DataFrame, id_col: str, vec_col: str, max_rows: int):
    """Corpus collected to (sorted ids, float64 matrix, exact norms,
    spark broadcast of that triple), or None when the fast path doesn't
    apply: over ``max_rows`` / the file-byte pre-gate, non-numeric or
    duplicate ids, null/ragged vectors or null ELEMENTS (those shapes
    keep the exact join plan). Memoized per corpus fingerprint for
    file-backed frames — a serving tier localizes AND broadcasts a
    static corpus once, not per query call (ADVICE r12: per-call
    broadcasts of up to 512 MB accumulated until GC); evicting an entry
    unpersists its broadcast. The collect is BOUNDED by ``max_rows``
    (the ivf_query discipline)."""
    import numpy as np

    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    try:
        if not isinstance(df.schema[id_col].dataType, (ByteType, ShortType, IntegerType, LongType)):
            return None
    except Exception:
        return None

    from .ivf import corpus_fingerprint

    fp = None
    try:
        if df.inputFiles():
            # input files alone under-key the memo: a FILTERED view of
            # the same files (the recall legs pass vec_id<N slices) must
            # not hit the full-corpus entry — fold the plan's semantic
            # hash in
            fp = corpus_fingerprint(
                df, f"loc|{id_col}|{vec_col}|sem{df.semanticHash()}"
            )
    except Exception:
        fp = None
    if fp is not None and fp in _LOCAL_VEC_MEMO:
        return _LOCAL_VEC_MEMO[fp]
    if _corpus_bytes(df) > MAX_LOCAL_CORPUS_FILE_BYTES:
        return None  # pre-gate: reject BEFORE collecting anything

    rows = df.select(id_col, vec_col).limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        return None
    rows = [r for r in rows if r[0] is not None]
    if not rows:
        return None
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    if len(np.unique(ids)) != len(ids):
        return None
    vecs = [r[1] for r in rows]
    if any(v is None for v in vecs):
        return None
    dim = len(vecs[0])
    if any(len(v) != dim for v in vecs):
        return None
    try:
        V = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
    except (TypeError, ValueError):
        # null ELEMENTS inside vectors: the HOF plan yields NULL sims for
        # such rows — fall back to it rather than silently scoring NaN
        return None
    if V.size * 8 > 512 << 20:  # hard byte ceiling regardless of row cap
        return None
    order = np.argsort(ids)
    ids, V = ids[order], V[order]
    norms = np.sqrt(_seq_sum(V * V))
    bc = df.sparkSession.sparkContext.broadcast((ids, V, norms))
    out = (ids, V, norms, bc)
    if fp is not None:
        for _stale in _LOCAL_VEC_MEMO.values():  # ≤1 entry by construction
            try:
                _stale[3].unpersist()
            except Exception:
                pass
        _LOCAL_VEC_MEMO.clear()  # keep at most one corpus resident
        _LOCAL_VEC_MEMO[fp] = out
    return out


#: Corpus-size crossover for the top-k scoring kernel: below this the
#: broadcast-crossJoin HOF plan is faster (Python fixed costs dominate),
#: above it the vectorized kernel wins by an order of magnitude. Bytes of
#: the corpus's input files — a driver-side estimate, no job.
MIN_KERNEL_CORPUS_BYTES = int(
    os.environ.get("BDP_MIN_KERNEL_CORPUS_BYTES", str(8 << 20))
)


def _corpus_bytes(df: DataFrame) -> int:
    """Total input-file bytes behind a frame (0 for in-memory frames —
    treated as small). Capped status calls like corpus_fingerprint."""
    try:
        files = df.inputFiles()
    except Exception:
        return 0
    total = 0
    from .metacache import _hadoop_fs

    for f in files[:100]:
        try:
            fs, p = _hadoop_fs(df.sparkSession, f)
            total += fs.getFileStatus(p).getLen()
        except Exception:
            pass
    if len(files) > 100 and files:
        total = int(total * len(files) / 100)
    return total


def _round_margin(threshold: float) -> float:
    """Prune bound for a matmul pre-score: keep every pair whose EXACT
    sim could still round (HALF_UP, 4 dp) to ≥ threshold. The matmul
    differs from the sequential fold only by summation-order ulps, so a
    generous 1e-6 guard band over the 5e-5 rounding slack is safe."""
    return threshold - 5e-5 - 1e-6


def cosine_near_dup_pairs_brute(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    max_local_corpus: int | None = None,
) -> DataFrame:
    """Exact embedding near-dup pairs: all (a < b) with cosine ≥ threshold.
    O(n²) — the correctness baseline; the LSH variant below is the scale
    path.

    Fast path (corpus ≤ ``max_local_corpus`` rows, clean shape): the
    corpus localizes once (memoized per fingerprint), each scan task
    matmuls its id batch against the full matrix, prunes with a rounding-
    safe margin, and recomputes survivors' sims with the sequential
    float64 fold — bit-identical to the HOF plan the fallback keeps
    (which itself verifies candidates through the Arrow pair kernel
    instead of interpreted HOFs). Catalyst does the final HALF_UP round
    and threshold either way."""
    import numpy as np

    cap = MAX_LOCAL_CORPUS if max_local_corpus is None else max_local_corpus
    loc = _localized(df, id_col, vec_col, cap)
    if loc is not None:
        bc = loc[3]  # memoized broadcast (one per corpus, not per call)
        margin = _round_margin(threshold)
        id_type = df.schema[id_col].dataType.simpleString()

        def scan(batches):
            l_ids, l_V, l_norms = bc.value
            for b in batches:
                batch_ids = b[b.columns[0]].to_numpy()
                ii = np.searchsorted(l_ids, batch_ids)
                # rows whose id is absent from the localized table can't
                # occur (same frame) — searchsorted is exact here
                A, an, aid = l_V[ii], l_norms[ii], l_ids[ii]
                with np.errstate(divide="ignore", invalid="ignore"):
                    approx = (A @ l_V.T) / np.outer(an, l_norms)
                    keep_r, keep_c = np.nonzero(
                        (approx >= margin) & (aid[:, None] < l_ids[None, :])
                    )
                    if len(keep_r) == 0:
                        continue
                    dot = _seq_sum(A[keep_r] * l_V[keep_c])
                    sim = dot / (an[keep_r] * l_norms[keep_c])
                yield pd.DataFrame(
                    {"id_a": aid[keep_r], "id_b": l_ids[keep_c], "sim_raw": sim}
                )

        scanned = (
            _spread(df)
            .select(F.col(id_col))
            .where(F.col(id_col).isNotNull())
            .mapInPandas(scan, f"id_a {id_type}, id_b {id_type}, sim_raw double")
        )
        return (
            scanned.withColumn("sim", F.round("sim_raw", 4))
            .where(F.col("sim") >= threshold)
            .select("id_a", "id_b", "sim")
        )

    a = _spread(df).select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("sim", F.round(pair_cosine_udf()(F.col("va"), F.col("vb")), 4))
        .where(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def cosine_near_dup_pairs_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_planes: int = 4,
    n_tables: int = 12,
    dim: int = 64,
) -> DataFrame:
    """Embedding near-dup dedup at scale: random-projection buckets generate
    candidates (bounded by bucket size, never O(n²)), exact cosine verifies
    ≥ threshold. Approximate in recall, exact in precision. Signatures come
    from the Arrow-batched matmul (see rp_signatures_batch)."""
    sig_udf = rp_signatures_batch(n_planes, n_tables, dim)
    sig_df = (
        _spread(df)
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .select("id", sig_udf("v").alias("sigs"))
        .localCheckpoint(eager=True)  # materialize before the generator
    )
    signed = sig_df.select("id", F.posexplode("sigs").alias("tbl", "sig"))
    l, r = signed.alias("l"), signed.alias("r")
    cands = l.join(
        r,
        (F.col("l.tbl") == F.col("r.tbl"))
        & (F.col("l.sig") == F.col("r.sig"))
        & (F.col("l.id") < F.col("r.id")),
    ).select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
    # candidates stay NON-distinct into the (deterministic) verify kernel:
    # a pair colliding in several tables is scored once per collision, and
    # the dedup shuffle runs over the tiny ≥-threshold survivor set instead
    # of the full candidate volume (pre-verify distinct measured a 1M-row
    # exchange at sf0.1 for a post-verify set of ~800 rows)
    return verify_pairs_cosine(df, cands, id_col, vec_col, threshold).distinct()


def verify_pairs_cosine(
    df: DataFrame,
    cands: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    max_local_corpus: int | None = None,
) -> DataFrame:
    """Exact-cosine verify of candidate (id_a, id_b) pairs against the
    corpus: the LSH-then-verify second phase. Fast path (bounded corpus,
    clean shape): pairs stream through a mapInPandas gather against the
    localized matrix — only two ids per row cross to Python, never the
    vectors. Fallback: vectors attached by join, scored by the Arrow
    pair kernel. Both produce the HOF plan's bytes (sequential float64
    fold; Catalyst rounds and thresholds)."""
    import numpy as np

    cap = MAX_LOCAL_CORPUS if max_local_corpus is None else max_local_corpus
    loc = _localized(df, id_col, vec_col, cap)
    if loc is not None:
        bc = loc[3]  # memoized broadcast (one per corpus, not per call)
        id_type = df.schema[id_col].dataType.simpleString()

        def score(batches):
            l_ids, l_V, l_norms = bc.value
            for b in batches:
                ida = b["id_a"].to_numpy()
                idb = b["id_b"].to_numpy()
                ia = np.searchsorted(l_ids, ida)
                ib = np.searchsorted(l_ids, idb)
                np.clip(ia, 0, len(l_ids) - 1, out=ia)
                np.clip(ib, 0, len(l_ids) - 1, out=ib)
                # ids not in the corpus (foreign candidates) match the
                # inner-join fallback by emitting nothing for that pair
                ok = (l_ids[ia] == ida) & (l_ids[ib] == idb)
                if not ok.all():
                    oki = np.nonzero(ok)[0]
                    ida, idb, ia, ib = ida[oki], idb[oki], ia[oki], ib[oki]
                if not len(ida):
                    continue
                with np.errstate(divide="ignore", invalid="ignore"):
                    sim = _seq_sum(l_V[ia] * l_V[ib]) / (l_norms[ia] * l_norms[ib])
                yield pd.DataFrame(
                    {"id_a": ida, "id_b": idb, "sim_raw": sim}
                )

        scored = (
            cands.select("id_a", "id_b")
            .where(F.col("id_a").isNotNull() & F.col("id_b").isNotNull())
            .mapInPandas(score, f"id_a {id_type}, id_b {id_type}, sim_raw double")
        )
        return (
            scored.withColumn("sim", F.round("sim_raw", 4))
            .where(F.col("sim") >= threshold)
            .select("id_a", "id_b", "sim")
        )

    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("sim", F.round(pair_cosine_udf()(F.col("va"), F.col("vb")), 4))
        .where(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def cosine_topk_brute(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    The query side is small by contract; the corpus is scanned once and
    NEVER shuffled. Fast path (queries localize cleanly, ≤ 4096 rows —
    the ivf_query serving bound): corpus batches score against the query
    matrix in one Arrow kernel per batch (sequential float64 fold — the
    HOF plan's exact bytes) with a ties-safe per-batch top-k prefilter;
    the global rank window then sees a provable superset of every
    query's true top-k. Fallback (big or odd-shaped query frames): the
    broadcast crossJoin plan, scored by the Arrow pair kernel. Excludes
    self-matches; deterministic tie-break on neighbor id; Catalyst does
    the HALF_UP rounding in both paths."""
    import numpy as np

    fast = None
    q_type = queries.schema[id_col].dataType.simpleString()
    n_type = corpus.schema[id_col].dataType.simpleString()
    try:
        if _corpus_bytes(corpus) < MIN_KERNEL_CORPUS_BYTES:
            # small corpus: the JVM crossJoin plan beats the kernel —
            # the Python boundary's fixed cost (~0.4 s/job) exceeds the
            # interpreted-HOF cost it removes (measured +0.19 s at
            # sf0.1's 2000×64 corpus; the kernel wins past ~10 MB of
            # vectors where HOF evals reach tens of millions)
            fast = None
        else:
            qrows = queries.select(id_col, vec_col).limit(4097).collect()
            if len(qrows) <= 4096:
                # null query ids can never emit (the crossJoin plan
                # drops them through the null-valued != predicate)
                fast = [(r[0], r[1]) for r in qrows if r[0] is not None]
    except Exception:
        fast = None
    if fast is not None:
        qids = [r[0] for r in fast]
        qvecs = [r[1] for r in fast]
        dims = {len(v) for v in qvecs if v is not None}
        qdim = dims.pop() if len(dims) == 1 else None
        uniform = qdim is not None and all(v is not None for v in qvecs)
        Q = (
            np.asarray([np.asarray(v, dtype=np.float64) for v in qvecs])
            if uniform and qids
            else None
        )
        if Q is not None:
            qn = np.sqrt(_seq_sum(Q * Q))
            packed = (qids, Q, qn, int(k))
            bc = corpus.sparkSession.sparkContext.broadcast(packed)

            def score(batches):
                l_qids, l_Q, l_qn, l_k = bc.value
                l_qarr = np.asarray(l_qids)
                for b in batches:
                    nb_ids = b["__nid"].to_numpy()
                    vecs = b["__cv"].to_numpy()
                    lens = np.fromiter(
                        (len(v) if v is not None else -1 for v in vecs),
                        np.int64,
                        count=len(vecs),
                    )
                    good = lens == l_Q.shape[1]
                    if good.any():
                        gi = np.nonzero(good)[0]
                        C = np.asarray(
                            [np.asarray(vecs[i], dtype=np.float64) for i in gi]
                        )
                        cn = np.sqrt(_seq_sum(C * C))
                        cids = nb_ids[gi]
                        outs = []
                        with np.errstate(divide="ignore", invalid="ignore"):
                            approx = (l_Q @ C.T) / np.outer(l_qn, cn)
                        for qi in range(len(l_qids)):
                            keep = cids != l_qarr[qi]  # self-exclusion FIRST
                            s = np.where(keep, approx[qi], -np.inf)
                            if int(keep.sum()) > l_k:
                                # ties-safe prune: 4-dp rounding can only
                                # promote sims within 1e-4 of the batch
                                # k-th; keep that whole band
                                finite = np.nan_to_num(s, nan=np.inf)
                                # NaN sims sort FIRST in Spark's desc
                                # order (NaN > any double), so they must
                                # survive the prune: map them to +inf
                                thr = np.partition(finite, len(s) - l_k)[
                                    len(s) - l_k
                                ]
                                keep &= ~(finite < thr - 1.1e-4)
                            ki = np.nonzero(keep)[0]
                            if not len(ki):
                                continue
                            with np.errstate(divide="ignore", invalid="ignore"):
                                exact = _seq_sum(
                                    np.broadcast_to(
                                        l_Q[qi], (len(ki), l_Q.shape[1])
                                    )
                                    * C[ki]
                                ) / (l_qn[qi] * cn[ki])
                            outs.append(
                                pd.DataFrame(
                                    {
                                        "query_id": np.repeat(l_qarr[qi], len(ki)),
                                        "neighbor_id": cids[ki],
                                        "sim_raw": exact,
                                    }
                                )
                            )
                        if outs:
                            yield pd.concat(outs, ignore_index=True)
                    if (~good).any():
                        # null/ragged corpus vectors: the crossJoin plan
                        # keeps these rows with a NULL sim (ranked last)
                        bi = np.nonzero(~good)[0]
                        for qi in range(len(l_qids)):
                            mask = nb_ids[bi] != l_qarr[qi]
                            if not mask.any():
                                continue
                            yield pd.DataFrame(
                                {
                                    "query_id": np.repeat(
                                        l_qarr[qi], int(mask.sum())
                                    ),
                                    "neighbor_id": nb_ids[bi][mask],
                                    "sim_raw": pd.array(
                                        [None] * int(mask.sum()),
                                        dtype="Float64",
                                    ),
                                }
                            )

            scored = (
                _spread(corpus)
                .select(
                    F.col(id_col).alias("__nid"), F.col(vec_col).alias("__cv")
                )
                .where(F.col("__nid").isNotNull())
                .mapInPandas(
                    score,
                    f"query_id {q_type}, neighbor_id {n_type}, sim_raw double",
                )
                .withColumn("sim", F.round("sim_raw", 4))
            )
            w = Window.partitionBy("query_id").orderBy(
                F.col("sim").desc(), F.col("neighbor_id")
            )
            return (
                scored.withColumn("rk", F.row_number().over(w).cast("long"))
                .where(F.col("rk") <= k)
                .select("query_id", "neighbor_id", "sim", "rk")
            )

    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = _spread(corpus).select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    # fallback scorer follows the same crossover: HOF for small corpora
    # (no Python boundary), Arrow pair kernel once the per-pair volume
    # pays for it (big corpus + >4096-query frames land here)
    try:
        big = _corpus_bytes(corpus) >= MIN_KERNEL_CORPUS_BYTES
    except Exception:
        big = False
    sim_expr = (
        pair_cosine_udf()(F.col("qv"), F.col("cv"))
        if big
        else cosine(F.col("qv"), F.col("cv"))
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", F.round(sim_expr, 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim", "rk")
    )


# Fixed pseudo-random hyperplane generator — deterministic across runs,
# no RNG at plan-build time (splitmix64-expanded constants).
def _hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    state = 0x243F6A8885A308D3
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state + 0x9E3779B97F4A7C15) % (1 << 64)
            z = state
            z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) % (1 << 64)
            z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) % (1 << 64)
            z = z ^ (z >> 31)
            # map to [-1, 1)
            row.append((z / float(1 << 63)) - 1.0)
        planes.append(row)
    return planes


def rp_signatures_batch(n_planes: int, n_tables: int, dim: int):
    """Arrow-batched signature computation: ONE numpy matmul per batch
    ((batch × dim) @ (dim × planes)) replaces n_tables × n_planes
    interpreted higher-order dot expressions per row. HOFs are
    CodegenFallback in Spark — row-at-a-time interpreted eval — so for
    dense vector math the vectorized Python boundary wins by an order of
    magnitude; the planes are the same splitmix64 constants, so both
    implementations yield identical signatures up to fp summation order."""
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf

    planes = np.array(_hyperplanes(n_planes * n_tables, dim))  # (P, dim)
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    @pandas_udf("array<long>")
    def sigs(vecs: pd.Series) -> pd.Series:
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])  # (B, dim)
        bits = (x @ planes.T) > 0                                        # (B, P)
        by_table = bits.reshape(len(x), n_tables, n_planes)
        folded = (by_table * weights).sum(axis=2)                        # (B, T)
        return pd.Series(list(folded))

    return sigs


def ann_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_planes: int = 4,
    n_tables: int = 12,
    dim: int = 64,
    queries_within_corpus: bool = False,
) -> DataFrame:
    """Approximate top-k: `n_tables` independent random-projection tables,
    candidates = ids sharing a table's full signature, exact cosine re-rank
    of candidates only.

    ``queries_within_corpus=True`` declares queries ⊆ corpus (same id
    space): ONE signature table is computed over the corpus and the query
    side is carved out of it by an id semi-join — halving the heavy
    plane-projection pass (and its codegen compile) and dropping one
    materialization barrier.

    Tuning: per-table collision probability for angle θ is (1-θ/π)^n_planes;
    recall ≈ 1-(1-p)^n_tables. Short bands (4) + many tables (12) reach
    ~85% recall even on weakly-clustered corpora (the driver's synthetic
    embeddings have top-3 cosines of only ~0.3); for production embedding
    spaces with tight clusters, raise n_planes to shrink buckets.

    Scale shape: signatures are map-side and materialized once; the
    candidate join shuffles (table, signature) buckets — bucket sizes bound
    the work, never |corpus|²; dedup happens on bare id pairs (no vector
    payload through the distinct); re-rank joins vectors back for
    candidates only.
    """
    sig_udf = rp_signatures_batch(n_planes, n_tables, dim)

    def signed(df: DataFrame, role: str) -> DataFrame:
        base = _spread(df).select(F.col(id_col).alias(f"{role}_id"), F.col(vec_col).alias("v"))
        # materialize the signature array BEFORE exploding: the generator
        # would otherwise re-evaluate its input per output row; the barrier
        # also lets the shared-signature path reuse one table from both
        # sides of the bucket join
        sig_df = base.select(f"{role}_id", sig_udf("v").alias("sigs")).localCheckpoint(eager=True)
        return sig_df.select(f"{role}_id", F.posexplode("sigs").alias("tbl", "sig"))

    if queries_within_corpus:
        corpus_sigs = signed(corpus, "neighbor")
        q_ids = queries.select(F.col(id_col).alias("neighbor_id"))
        qs = corpus_sigs.join(F.broadcast(q_ids), "neighbor_id", "left_semi").select(
            F.col("neighbor_id").alias("query_id"), "tbl", "sig"
        )
        cs = corpus_sigs
    else:
        qs = signed(queries, "query")
        cs = signed(corpus, "neighbor")
    cands = (
        qs.join(cs, ["tbl", "sig"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_v"))
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("neighbor_v"))
    scored = (
        cands.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .withColumn(
            "sim",
            F.round(pair_cosine_udf()(F.col("query_v"), F.col("neighbor_v")), 4),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim", "rk")
    )
