"""Retrieval capstone: one root directory holding everything a RAG /
search deployment serves from, plus the hybrid query that reads it.

    {root}/passages.parquet   the text units (docs, or chunk_documents
                              windows when chunk_tokens is set)
    {root}/bm25/              term-bucket-partitioned inverted index
    {root}/ann/               cell-partitioned IVF index over embeddings
                              (optional — only when embeddings given)
    {root}/manifest.parquet   what was built, written LAST (commit marker)

Build composes the engine's existing build-once pieces (bm25.build,
ivf.build — each keeps its own fingerprint); `hybrid_search` runs the
lexical and vector probes against the SAME root and fuses them with
reciprocal-rank fusion (score-scale-free, so no calibration between
BM25 scores and cosines). For externally-embedded roots, embedding the
query text is the caller's job (embeddings are data, not models — the
operators/similarity.py stance); pass `query_embeddings=None` for pure
lexical search. Roots built with ``embed_dim`` are SELF-CONTAINED:
passage and query embeddings are generated in-flight by the manifest's
deterministic hash encoder (operators/embedder.py), so the vector leg
needs no model and no embedding table on either side.
A root changes only by a rebuild (`build_retrieval_index`, the
``index`` CLI): no ingest path appends to it. `rerank` adds an
injectable cross-encoder second stage.

When chunking is on, embeddings must be keyed by PASSAGE id
(``doc_id << chunking >> {doc}#{idx}`` — the chunk_documents
convention); doc-level embeddings with chunked passages would fuse
ranks of different units and are rejected by id mismatch at build time
only in tests, not silently here — the manifest records which unit was
indexed so the reader can check.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .bm25 import bm25_query, bm25_topk, rrf_fuse
from .ivf import ivf_query, ivf_topk

from ..session import local_rows

__all__ = [
    "build_retrieval_index",
    "validate_retrieval_root",
    "hybrid_search",
    "rm3_search",
    "rerank",
    "overlap_scorer",
    "stub_scorer",
]


def _as_passages(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int | None,
    overlap_tokens: int,
) -> DataFrame:
    """Docs → indexed text units: either the docs themselves or
    fixed-window chunks with ``{doc}#{idx}`` ids (the chunk_documents
    convention)."""
    if chunk_tokens is not None:
        from .text import chunk_documents

        return chunk_documents(
            docs, id_col=id_col, text_col=text_col,
            chunk_tokens=chunk_tokens, overlap_tokens=overlap_tokens,
        ).select(
            F.concat_ws("#", F.col("id").cast("string"), F.col("chunk_idx")).alias(id_col),
            F.col("chunk_text").alias(text_col),
        )
    return docs.select(F.col(id_col), F.col(text_col))


def build_retrieval_index(
    spark: SparkSession,
    docs: DataFrame,
    out_path: str,
    embeddings: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    emb_id_col: str = "vec_id",
    vec_col: str = "embedding",
    chunk_tokens: int | None = None,
    overlap_tokens: int = 32,
    n_term_buckets: int = 64,
    n_centroids: int = 16,
    embed_dim: int | None = None,
    embed_seed: int = 0,
) -> dict[str, int]:
    """Build the serving root. Returns counts per artifact. Each
    sub-index rides its own build-once contract; the manifest is written
    last so a crashed build is detectable (no manifest = rebuild).

    ``embed_dim`` (with no ``embeddings``) makes the root fully
    SELF-CONTAINED from raw text: passage embeddings are generated
    in-flight by ``embedder.hash_encoder(embed_dim, embed_seed)`` and
    the encoder geometry is recorded in the manifest, so
    ``hybrid_search`` can re-instantiate the identical (deterministic)
    encoder for query text at serve time — no external embedding table
    or model on either side."""
    out = out_path.rstrip("/")
    passages = _as_passages(docs, id_col, text_col, chunk_tokens, overlap_tokens)
    unit = "chunk" if chunk_tokens is not None else "doc"
    passages.write.mode("overwrite").parquet(f"{out}/passages.parquet")
    passages = spark.read.parquet(f"{out}/passages.parquet")
    counts = {"passages": passages.count()}

    # the *_topk entry points own the fingerprint gating; running them
    # with a 1-row probe builds (or validates) the persisted index
    probe_q = passages.limit(1).selectExpr(f"{id_col} as query_id", f"{text_col} as text")
    bm25_topk(probe_q, passages, id_col=id_col, text_col=text_col,
              k=1, index_path=f"{out}/bm25", n_buckets=n_term_buckets).collect()
    counts["bm25_built"] = 1

    inflight_dim: int | None = None
    if embeddings is None and embed_dim is not None:
        from .embedder import embed_texts, hash_encoder

        inflight_dim = embed_dim
        embeddings = embed_texts(
            passages, text_col=text_col,
            encoder=hash_encoder(embed_dim, seed=embed_seed),
        ).select(F.col(id_col).alias(emb_id_col), F.col("embedding").alias(vec_col))

    if embeddings is not None:
        probe_v = embeddings.limit(1)
        ivf_topk(probe_v, embeddings, id_col=emb_id_col, vec_col=vec_col,
                 k=1, n_centroids=n_centroids, index_path=f"{out}/ann").collect()
        counts["ann_vectors"] = embeddings.count()

    _write_manifest(
        spark, out,
        unit=unit, n_passages=counts["passages"],
        has_ann=embeddings is not None,
        embed_dim=inflight_dim,
        embed_seed=embed_seed if inflight_dim is not None else None,
        chunk_tokens=chunk_tokens,
        overlap_tokens=overlap_tokens if chunk_tokens is not None else None,
    )
    return counts


def _write_manifest(spark: SparkSession, out: str, **fields) -> None:
    local_rows(
        spark,
        [(
            fields["unit"], fields["n_passages"], fields["has_ann"],
            fields["embed_dim"], fields["embed_seed"],
            fields["chunk_tokens"], fields["overlap_tokens"],
        )],
        "unit string, n_passages long, has_ann boolean, "
        "embed_dim int, embed_seed int, chunk_tokens int, overlap_tokens int",
    ).write.mode("overwrite").parquet(f"{out}/manifest.parquet")


def hybrid_search(
    spark: SparkSession,
    root: str,
    queries: DataFrame,
    query_embeddings: DataFrame | None = None,
    k: int = 10,
    rrf_k: int = 60,
    emb_id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
) -> DataFrame:
    """Query the serving root: BM25 over the inverted index, optionally
    ANN over the vector index (``query_embeddings`` keyed like
    ``queries``' query_id), fused by RRF. Returns
    (query_id, doc_id, rrf_score, rk). Refuses a manifest-less root —
    a crashed build must not serve.

    When the root was built self-contained (``embed_dim`` at build time)
    and no ``query_embeddings`` are passed, query text is embedded
    IN-FLIGHT with the exact encoder geometry the manifest records —
    determinism makes build-time and serve-time embeddings the same
    space, so the vector leg always participates for such roots.

    Query ids are their OWN namespace: the ANN leg runs with
    ``exclude_self=False``, so a query id that happens to equal a doc id
    still ranks that doc normally (no silent self-match drop)."""
    base = root.rstrip("/")
    from .metacache import cached_meta

    try:
        mpath = f"{base}/manifest.parquet"
        mdict = cached_meta(
            spark, mpath, lambda: spark.read.parquet(mpath).first().asDict()
        )
    except Exception as e:  # AnalysisException / FileNotFound: path missing
        raise ValueError(f"no manifest under {root} — incomplete build") from e
    manifest = mdict
    # Localize the query batch ONCE (bounded: the serving contract is a
    # small per-call batch). Every leg below re-evaluates the query-side
    # plan (tokenize probe, embed, broadcast builds); against an
    # arbitrary upstream plan (a parquet scan + sort, say) each
    # re-evaluation is a repeat Spark job — against a local relation
    # they are all sub-millisecond plan fragments.
    from .metacache import local_relation

    qcap = 4096
    _qrows = queries.limit(qcap + 1).collect()
    if len(_qrows) <= qcap:
        queries = local_relation(spark, _qrows, queries.schema)
    if query_embeddings is None and mdict.get("embed_dim") is not None:
        from .embedder import embed_texts, hash_encoder

        enc = hash_encoder(int(mdict["embed_dim"]), seed=int(mdict["embed_seed"]))
        if len(_qrows) <= qcap:
            # localized batch: the hash encoder is a plain numpy
            # callable — run it driver-side on the collected texts
            # (identical float32 values to the embed_texts map stage,
            # which this replaces) instead of paying an Arrow UDF job
            # for a handful of rows
            import numpy as np

            vecs = np.asarray(
                enc([r["text"] for r in _qrows]), dtype=np.float32
            )
            qid_type = queries.schema["query_id"].dataType.simpleString()
            query_embeddings = local_relation(
                spark,
                [
                    (r["query_id"], [float(x) for x in vecs[i]])
                    for i, r in enumerate(_qrows)
                ],
                f"{emb_id_col} {qid_type}, {vec_col} array<float>",
            )
        else:
            query_embeddings = embed_texts(
                queries, text_col="text", encoder=enc,
            ).select(
                F.col("query_id").alias(emb_id_col),
                F.col("embedding").alias(vec_col),
            )
    lex = bm25_query(spark, f"{base}/bm25", queries, k=k)
    legs = [lex]
    if query_embeddings is not None:
        if not manifest["has_ann"]:
            raise ValueError(f"{root} was built without an ANN index")
        vec = ivf_query(
            spark, f"{base}/ann", query_embeddings,
            id_col=emb_id_col, vec_col=vec_col, k=k, nprobe=nprobe,
            exclude_self=False,
        ).select(
            F.col("query_id"), F.col("neighbor_id").alias("doc_id"), F.col("rk")
        )
        legs.append(vec)
    return rrf_fuse(legs, k=rrf_k, top_k=k)


# ---------------------------------------------------------------------------
# Rerank stage: injectable cross-encoder over the candidate set
# ---------------------------------------------------------------------------

#: Batch scorer contract: parallel lists of query/passage texts in,
#: one relevance score per pair out (higher = more relevant).
Scorer = Callable[[list[str], list[str]], "np.ndarray"]


def stub_scorer(q_texts: list[str], p_texts: list[str]) -> "np.ndarray":
    """Guard stub documenting the injection point for a real
    cross-encoder (e.g. a sentence-transformers CrossEncoder.predict —
    not installed in this container)."""
    raise NotImplementedError(
        "no cross-encoder injected — pass scorer=overlap_scorer for the "
        "dependency-free lexical scorer, or a CrossEncoder.predict-style callable"
    )


def overlap_scorer(q_texts: list[str], p_texts: list[str]) -> "np.ndarray":
    """Dependency-free default: token-set F1 between query and passage
    (the SQuAD-style overlap measure). A real, monotone relevance signal
    — an exact restatement of the query scores 1.0 — and deterministic,
    so rerank results are reproducible without any model."""
    out = np.zeros(len(q_texts), dtype=np.float64)
    for i, (q, p) in enumerate(zip(q_texts, p_texts)):
        qs, ps = set((q or "").lower().split()), set((p or "").lower().split())
        if not qs or not ps:
            continue
        inter = len(qs & ps)
        if inter == 0:
            continue
        prec, rec = inter / len(ps), inter / len(qs)
        out[i] = 2 * prec * rec / (prec + rec)
    return out


def rerank(
    spark: SparkSession,
    root: str,
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 10,
    scorer: Scorer | None = None,
) -> DataFrame:
    """Second-stage rerank of ``hybrid_search`` candidates: fetch each
    candidate's passage text from the serving root, score (query,
    passage) pairs with the injected cross-encoder, keep the top ``k``
    per query by the new score. Returns
    (query_id, doc_id, rerank_score, rk).

    Scale shape: ``candidates`` is |Q|·k rows — tiny next to the passage
    corpus — so it BROADCASTS into the passages scan (the corpus is
    never shuffled), the scorer sees only |Q|·k pairs in Arrow batches,
    and the final per-query top-k is a window over |Q|·k rows. A GPU
    cross-encoder drops in through the same batch contract as
    ``embedder.embed_texts``.
    """
    sc = scorer if scorer is not None else overlap_scorer
    base = root.rstrip("/")
    passages = spark.read.parquet(f"{base}/passages.parquet")
    id_col, text_col = passages.columns[0], passages.columns[1]
    # reserved aliases: the passage id column may itself be "doc_id"
    cand = candidates.select(
        F.col("query_id").alias("__c_qid"), F.col("doc_id").alias("__c_did")
    )
    pairs = (
        passages.join(
            F.broadcast(cand), on=F.col(id_col) == F.col("__c_did"), how="inner"
        )
        .select(
            F.col("__c_qid").alias("query_id"),
            F.col("__c_did").alias("doc_id"),
            F.col(text_col).alias("__p_text"),
        )
        .join(
            F.broadcast(
                queries.select(
                    F.col("query_id"), F.col("text").alias("__q_text")
                )
            ),
            "query_id",
        )
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            scores = np.asarray(
                sc(b["__q_text"].tolist(), b["__p_text"].tolist()), dtype=np.float64
            )
            if scores.shape != (len(b),):
                raise ValueError(
                    f"scorer returned shape {scores.shape}, expected ({len(b)},)"
                )
            out = b[["query_id", "doc_id"]].copy()
            out["rerank_score"] = scores
            yield out

    scored = pairs.mapInPandas(
        run, "query_id string, doc_id string, rerank_score double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rerank_score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
    )


def validate_retrieval_root(
    spark: SparkSession,
    root: str,
    id_col: str = "doc_id",
) -> dict[str, int | bool]:
    """Consistency audit of a serving root — the operational probe to
    run after a rebuild or before promoting a root to serving:

        n_passages            rows in the passage table
        manifest_count_ok     manifest n_passages == actual
        n_unindexed_lexical   passages with NO posting row (un-searchable
                              through the BM25 leg; empty/stopword-free
                              texts legitimately land here)
        n_unindexed_vector    passages missing from the IVF cells
                              (ann-built roots only)
        n_orphan_vectors      indexed vectors with no passage row

    All checks are distributed anti-join counts over the real artifacts
    (postings read in full once — an audit job, not a serve path)."""
    base = root.rstrip("/")
    try:
        m = spark.read.parquet(f"{base}/manifest.parquet").first().asDict()
    except Exception as e:
        raise ValueError(f"no manifest under {root} — incomplete build") from e
    passages = spark.read.parquet(f"{base}/passages.parquet")
    ids = passages.select(F.col(id_col).alias("__pid"))
    report: dict[str, int | bool] = {"n_passages": ids.count()}
    report["manifest_count_ok"] = report["n_passages"] == m["n_passages"]

    posted = (
        spark.read.parquet(f"{base}/bm25/postings.parquet")
        .select(F.col("doc").alias("__pid"))
        .distinct()
    )
    report["n_unindexed_lexical"] = ids.join(posted, "__pid", "left_anti").count()

    if m["has_ann"]:
        vec_ids = spark.read.parquet(f"{base}/ann/cells.parquet").select(
            F.col("neighbor_id").cast("string").alias("__pid")
        )
        sids = ids.select(F.col("__pid").cast("string").alias("__pid"))
        report["n_unindexed_vector"] = sids.join(vec_ids, "__pid", "left_anti").count()
        report["n_orphan_vectors"] = vec_ids.join(sids, "__pid", "left_anti").count()
    return report


def rm3_search(
    spark: SparkSession,
    root: str,
    queries: DataFrame,
    k: int = 10,
    fb_docs: int = 5,
    fb_terms: int = 10,
    alpha: float = 0.5,
    min_term_len: int = 3,
) -> DataFrame:
    """BM25 with RM3 pseudo-relevance feedback (Lavrenko & Croft 2001;
    the Anserini default recipe): a first BM25 pass retrieves
    ``fb_docs`` per query, a relevance model is estimated from their
    text, and a second weighted pass runs the expanded query

        qw(t) = alpha · P(t|q)  +  (1 − alpha) · P(t|R),
        P(t|R) = Σ_d P(t|d) · score_d / Σ_d score_d

    with the ``fb_terms`` highest-weight expansion terms. Bridges
    vocabulary gaps BM25 alone can't cross: a doc sharing no term with
    the query surfaces when it shares terms with the query's top hits.

    Scale shape: both passes are the partition-pruned BM25 probe;
    feedback text is fetched by BROADCASTING the |Q|·fb_docs id set
    into the passages scan (the rerank pattern — the corpus is never
    shuffled); the relevance model is a few hash aggregates over
    feedback tokens. Returns (query_id, doc_id, score, rk)."""
    from .bm25 import _query_terms, bm25_query

    base = root.rstrip("/")
    passages = spark.read.parquet(f"{base}/passages.parquet")
    id_col, text_col = passages.columns[0], passages.columns[1]

    first = bm25_query(spark, f"{base}/bm25", queries, k=fb_docs)
    fb = (
        passages.join(
            F.broadcast(
                first.select(
                    F.col("query_id").alias("__q"),
                    F.col("doc_id").alias("__d"),
                    F.col("score").alias("__s"),
                )
            ),
            on=F.col(id_col) == F.col("__d"),
        )
        .select("__q", "__s", F.col(text_col).alias("__t"))
    )
    # P(t|d) = tf/len(d), doc-weighted by normalized first-pass score
    toks = fb.select(
        "__q", "__s",
        F.explode(F.split(F.lower(F.col("__t")), r"\s+")).alias("term"),
    ).where(F.length("term") >= min_term_len)
    doclen = toks.groupBy("__q", "__s").agg(F.count(F.lit(1)).alias("__len"))
    ptd = (
        toks.groupBy("__q", "__s", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .join(doclen, ["__q", "__s"])
        .withColumn("__ptd", F.col("tf") / F.col("__len"))
    )
    score_mass = first.groupBy(F.col("query_id").alias("__q")).agg(
        F.sum("score").alias("__mass")
    )
    ptr = (
        ptd.join(score_mass, "__q")
        .groupBy("__q", "term")
        .agg(F.sum(F.col("__ptd") * F.col("__s") / F.col("__mass")).alias("__ptr"))
    )
    w = Window.partitionBy("__q").orderBy(F.desc("__ptr"), F.asc("term"))
    expansion = (
        ptr.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= fb_terms)
        .select(
            F.col("__q").alias("query_id"), "term",
            ((1.0 - alpha) * F.col("__ptr")).alias("qw"),
        )
    )
    # P(t|q): uniform over the query's distinct terms
    qt = _query_terms(queries, "query_id", "text", "whitespace")
    qn = qt.groupBy("query_id").agg(F.count(F.lit(1)).alias("__n"))
    original = qt.join(qn, "query_id").select(
        "query_id", "term", (F.lit(alpha) / F.col("__n")).alias("qw")
    )
    weighted = (
        original.unionByName(expansion)
        .groupBy("query_id", "term")
        .agg(F.sum("qw").alias("qw"))
    )
    return bm25_query(
        spark, f"{base}/bm25", queries, k=k, weighted_terms=weighted
    )
