"""BM25 full-text retrieval — keyword search over the documents table,
the lexical complement of the vector family (similarity/ivf/pq): corpus
search, eval-set retrieval, and hard-negative mining all start from a
BM25 pass (Robertson & Zaragoza, "The Probabilistic Relevance
Framework: BM25 and Beyond", FnTIR 2009).

    score(D, Q) = Σ_{t ∈ Q} idf(t) · tf(t,D)·(k1+1) /
                              (tf(t,D) + k1·(1 − b + b·|D|/avgdl))
    idf(t) = ln(1 + (N − df(t) + 0.5)/(df(t) + 0.5))

Spark shape — an inverted index IS a DataFrame:

- **Build** (one scan + two aggregates): postings (doc, term, tf) from
  explode → count; doc lengths and corpus stats ride along. The
  persisted layout partitions postings AND the term dictionary by a
  term-hash bucket (``tb = pmod(xxhash64(term), n_buckets)``), so a
  query touches only the partitions its own terms hash into — the same
  file-listing-level pruning the IVF cell layout gets, with the same
  meta-last/fingerprint/atomic-swap build-once contract.
- **Query**: probe terms → their buckets → partition-pruned postings
  read → broadcast join on term (query vocabularies are small) → per
  (query, doc) sum → per-query top-k window. All JVM, no Python.

At 100 TB the postings table is big but the query path reads only the
probed term buckets and shuffles only matching postings; scoring never
touches raw text.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .ivf import _read_index_fingerprint, corpus_fingerprint
from .metacache import _hadoop_fs, cached_meta, local_relation
from .vocab import _token_array

from ..session import local_rows

__all__ = ["bm25_postings", "build_bm25_index", "bm25_query", "bm25_topk", "rrf_fuse", "append_to_bm25_index", "streaming_bm25_append"]


def bm25_postings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer: str = "whitespace",
) -> tuple[DataFrame, DataFrame]:
    """(postings(doc, term, tf, doclen), terms(term, df)) — the inverted
    index as DataFrames. One explode + one (doc, term) aggregate; doclen
    rides on the postings row (denormalized) so scoring needs no second
    join against a lengths table."""
    pairs = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(_token_array(text_col, tokenizer)).alias("term"),
    )
    postings = pairs.groupBy("doc", "term").agg(F.count(F.lit(1)).alias("tf"))
    lens = postings.groupBy("doc").agg(F.sum("tf").alias("doclen"))
    postings = postings.join(lens, "doc")
    terms = postings.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    return postings, terms


def _corpus_stats(postings: DataFrame) -> tuple[int, float]:
    row = postings.select("doc", "doclen").distinct().agg(
        F.count(F.lit(1)).alias("n"), F.avg("doclen").alias("avgdl")
    ).first()
    return int(row["n"] or 0), float(row["avgdl"] or 1.0)


def build_bm25_index(
    docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer: str = "whitespace",
    n_buckets: int = 64,
    fingerprint: str | None = None,
    files_per_bucket: int = 1,
) -> None:
    """Persist the inverted index, term-hash partitioned:

        {index_path}/postings.parquet/tb=N/  (doc, term, tf, doclen)
        {index_path}/terms.parquet/tb=N/     (term, df, idf)
        {index_path}/stats.parquet           (n_docs, avgdl)
        {index_path}/meta.parquet            fingerprint — written LAST

    ``tb = pmod(xxhash64(term), n_buckets)`` so a query's probe reads
    only its own term buckets (PartitionFilters at the file listing).

    ``files_per_bucket``: the write clusters rows so each bucket dir
    gets ~this many files. 1 (default) is right while corpus/n_buckets
    fits a task; at real scale raise it so no bucket becomes one
    multi-TB file — the exchange salts within the bucket by doc hash,
    so bucket pruning is unaffected."""
    spark = docs.sparkSession
    postings, terms = bm25_postings(docs, id_col, text_col, tokenizer)
    n_docs, avgdl = _corpus_stats(postings)
    tb = F.pmod(F.xxhash64(F.col("term")), F.lit(n_buckets)).cast("int").alias("tb")
    if files_per_bucket < 1:
        raise ValueError(f"files_per_bucket must be >= 1, got {files_per_bucket}")
    salt = F.pmod(F.xxhash64(F.col("doc")), F.lit(files_per_bucket))
    postings.withColumn("tb", tb).repartition(
        n_buckets * files_per_bucket, F.col("tb"), salt
    ).write.mode("overwrite").partitionBy("tb").parquet(
        os.path.join(index_path, "postings.parquet")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    ).alias("idf")
    terms.select("term", "df", idf).withColumn("tb", tb).repartition(
        min(n_buckets, 8), "tb"
    ).write.mode("overwrite").partitionBy("tb").parquet(
        os.path.join(index_path, "terms.parquet")
    )
    local_rows(
        spark, [(n_docs, avgdl)], "n_docs long, avgdl double"
    ).write.mode("overwrite").parquet(os.path.join(index_path, "stats.parquet"))
    if fingerprint is not None:
        local_rows(
            spark, [(fingerprint,)], "fingerprint STRING"
        ).write.mode("overwrite").parquet(os.path.join(index_path, "meta.parquet"))


def _score_and_rank(
    cand: DataFrame, n_docs: int, avgdl: float, k: int, k1: float, b: float,
    serve_sized: bool = True,
) -> DataFrame:
    """cand: (query_id, doc, term, tf, doclen, idf[, qw]) → per-query
    top-k; an optional ``qw`` column weights each query term's
    contribution (1.0 ≡ classic BM25 — used by the RM3 expansion in
    operators/retrieval.py).

    ``serve_sized`` picks the exchange shape (VERDICT r12 task 8):

    - True (a bounded probe batch — the serving contract): ONE exchange,
      hash-partitioning by query_id alone satisfies both the
      (query_id, doc) aggregation's clustering AND the rank window's
      partitioning; the shuffle carries term-level contribs instead of
      doc-level partials (~same bytes for short serve queries).
    - False (batch scoring, e.g. an over-cap probe that kept the
      distributed plan): the classic two-exchange shape whose FIRST
      exchange pre-aggregates map-side per (query_id, doc) — at millions
      of queries the partial_sum shrinks the shuffle far below the
      term-level row volume the fused shape would ship."""
    tf_part = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("doclen") / F.lit(avgdl))
    )
    qw = F.col("qw") if "qw" in cand.columns else F.lit(1.0)
    scored = cand.withColumn("contrib", qw * F.col("idf") * tf_part)
    if serve_sized:
        scored = scored.repartition("query_id")
    scored = scored.groupBy("query_id", "doc").agg(
        F.round(F.sum("contrib"), 4).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select("query_id", F.col("doc").alias("doc_id"), "score", "rk")
    )


#: Localize the term dictionary (term → idf) only below this many bytes
#: of terms.parquet — vocabulary-sized, not corpus-sized, but a 100 TB
#: corpus can still carry a vocabulary too big to hold on the driver.
#: Sized against the EXPANSION, not the file: a snappy parquet of
#: (term, df, idf) inflates ~5-8× as a Python str→float dict, so the
#: 32 MB default bounds the resident map at a few hundred MB.
MAX_LOCAL_TERMS_BYTES = int(
    os.environ.get("BDP_MAX_LOCAL_TERMS_BYTES", str(32 << 20))
)


def _cached_term_idf(spark: SparkSession, index_path: str) -> dict | None:
    """term → idf for the whole dictionary, memoized per terms-dir
    listing (operators/metacache — appends rewrite terms.parquet, so the
    memo self-invalidates), or None when the dictionary exceeds
    ``MAX_LOCAL_TERMS_BYTES`` (the distributed idf join stays).

    A serving tier resolves probe-term idf driver-side from this map, so
    the serve plan loses the terms scan AND its BroadcastExchange — the
    idf values are the same doubles the scan would read, attached to the
    probe's local relation instead of joined in (guide §2.4; the
    centroid-table discipline applied to the lexical leg)."""
    terms_path = os.path.join(index_path, "terms.parquet")

    def load():
        fs, p = _hadoop_fs(spark, terms_path)
        if fs.getContentSummary(p).getLength() > MAX_LOCAL_TERMS_BYTES:
            return None  # decision memoized too: re-checked only on rewrite
        return {
            r["term"]: r["idf"]
            for r in spark.read.parquet(terms_path).select("term", "idf").collect()
        }

    return cached_meta(spark, terms_path, load, ns="idf")


def _query_terms(
    queries: DataFrame, query_id_col: str, query_text_col: str, tokenizer: str
) -> DataFrame:
    """(query_id, term) DISTINCT — BM25's Σ is over the query's term SET
    (standard bag-of-words form ignores duplicate query terms)."""
    return queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(_token_array(query_text_col, tokenizer)).alias("term"),
    ).distinct()


def bm25_query(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    query_id_col: str = "query_id",
    query_text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    tokenizer: str = "whitespace",
    weighted_terms: DataFrame | None = None,
) -> DataFrame:
    """Serve from a persisted index: the probe reads ONLY the term-hash
    buckets the query vocabulary touches (a `tb isin` partition filter —
    the bucket list is derived from the query terms, bounded by query
    size), broadcast-joins the probe terms, scores, and ranks.
    Returns (query_id, doc_id, score, rk).

    ``weighted_terms`` replaces the tokenized query with an explicit
    (query_id, term, qw) frame — the RM3 expansion hook: each term's
    BM25 contribution is scaled by ``qw`` (pass it INSTEAD of relying
    on ``queries``' text; ``queries`` is ignored then).

    Corpus stats and the bucket count are memoized per process keyed on
    the stats dir listing (operators/metacache) — repeat queries skip
    the per-call driver jobs a serving tier would never re-pay; appends
    rewrite stats.parquet, so the memo invalidates itself."""
    stats_path = os.path.join(index_path, "stats.parquet")
    n_docs, avgdl = cached_meta(
        spark,
        stats_path,
        lambda: (
            lambda r: (int(r["n_docs"]), float(r["avgdl"]))
        )(spark.read.parquet(stats_path).first()),
    )
    # ZERO-JOB probe planning (plain-text path): the query batch is
    # collected once (bounded; free when the caller already passes a
    # local relation — Project/Limit over LocalRelation fold in the
    # optimizer), then tokenization + term hashing run as a DETERMINISTIC
    # JVM projection over a rebuilt local relation, which
    # ConvertToLocalRelation evaluates at optimization time — identical
    # split/lower/xxhash64 semantics to the distributed plan, no Spark
    # job, no Python reimplementation of Java regex/locale behavior.
    # The term-set dedup the BM25 Σ needs happens driver-side (the
    # distinct() exchange the distributed fallback pays). Over-large
    # probes (a mis-used API, not a serving call) keep the distributed
    # plan.
    n_buckets = _index_buckets(spark, index_path)
    probe_cap = 100_000
    # probe rows as (query_id, term[, qw], tb) tuples when the batch
    # localizes; None → over-cap batch, keep the distributed plan
    probe: list[tuple] | None = None
    has_qw = weighted_terms is not None
    if has_qw:
        qt_plan = weighted_terms.select("query_id", "term", "qw")
        qt_b = qt_plan.withColumn(
            "tb", F.pmod(F.xxhash64(F.col("term")), F.lit(n_buckets)).cast("int")
        )
        probe_rows = qt_b.limit(probe_cap + 1).collect()
        if len(probe_rows) <= probe_cap:
            probe = [tuple(r) for r in probe_rows]
        qid_type = weighted_terms.schema["query_id"].dataType.simpleString()
    else:
        q2 = queries.select(F.col(query_id_col), F.col(query_text_col))
        qrows = q2.limit(probe_cap + 1).collect()
        if len(qrows) <= probe_cap:
            folded = (
                local_relation(spark, qrows, q2.schema)
                .select(
                    F.col(query_id_col).alias("query_id"),
                    F.transform(
                        _token_array(query_text_col, tokenizer),
                        lambda t: F.struct(
                            t.alias("term"), F.xxhash64(t).alias("h")
                        ),
                    ).alias("th"),
                )
                .collect()  # LocalTableScan after folding: no job
            )
            qid_type = q2.schema[query_id_col].dataType.simpleString()
            seen: dict[tuple, int] = {}
            for r in folded:
                if r["th"] is None:
                    continue
                for e in r["th"]:
                    key = (r["query_id"], e["term"])
                    if key not in seen:
                        # python % on the signed hash == Spark pmod
                        seen[key] = int(e["h"]) % n_buckets
                if len(seen) > probe_cap:
                    break  # term volume over cap: distributed plan below
            if len(seen) <= probe_cap:
                # the cap bounds (query, term) ROWS, not just queries — a
                # small batch of very long texts must not fold millions
                # of term structs driver-side (ADVICE r12)
                probe = [(q, t, tb) for (q, t), tb in seen.items()]

    if probe is not None:
        idf_map = _cached_term_idf(spark, index_path)
        if idf_map is not None:
            # serve fast path: idf resolved driver-side from the memoized
            # dictionary — terms absent from the index contribute nothing
            # (exactly the inner idf join), and their buckets are never
            # probed; the plan drops the terms scan + one BroadcastExchange
            if has_qw:
                kept = [
                    (q, t, w, idf_map[t], tb)
                    for (q, t, w, tb) in probe if t in idf_map
                ]
                schema = (
                    f"query_id {qid_type}, term string, qw double,"
                    " idf double, tb int"
                )
                cols = ["query_id", "doc", "term", "tf", "doclen", "idf", "qw"]
            else:
                kept = [
                    (q, t, idf_map[t], tb)
                    for (q, t, tb) in probe if t in idf_map
                ]
                schema = f"query_id {qid_type}, term string, idf double, tb int"
                cols = ["query_id", "doc", "term", "tf", "doclen", "idf"]
            buckets = sorted({r[-1] for r in kept})
            qt = local_relation(spark, kept, schema).drop("tb")
            postings = spark.read.parquet(
                os.path.join(index_path, "postings.parquet")
            ).where(F.col("tb").isin(buckets))
            cand = postings.join(F.broadcast(qt), "term").select(*cols)
            return _score_and_rank(cand, n_docs, avgdl, k, k1, b)
        # dictionary too big to localize: probe local relation + idf join
        buckets = sorted({r[-1] for r in probe})
        if has_qw:
            schema = f"query_id {qid_type}, term string, qw double, tb int"
        else:
            schema = f"query_id {qid_type}, term string, tb int"
        qt = local_relation(spark, probe, schema).drop("tb")
        serve_sized = True
    else:
        if has_qw:
            qt = weighted_terms.select("query_id", "term", "qw")
            qt_b = qt.withColumn(
                "tb", F.pmod(F.xxhash64(F.col("term")), F.lit(n_buckets)).cast("int")
            )
        else:
            qt = _query_terms(queries, query_id_col, query_text_col, tokenizer)
            qt_b = qt.withColumn(
                "tb",
                F.pmod(F.xxhash64(F.col("term")), F.lit(n_buckets)).cast("int"),
            )
        buckets = [r["tb"] for r in qt_b.select("tb").distinct().collect()]
        # over-cap batch scoring: keep the pre-aggregating two-exchange
        # shape (VERDICT r12 task 8 — partial sums beat the fused
        # single exchange once the shuffle is millions of term rows)
        serve_sized = False
    postings = spark.read.parquet(os.path.join(index_path, "postings.parquet")).where(
        F.col("tb").isin(buckets)
    )
    terms = spark.read.parquet(os.path.join(index_path, "terms.parquet")).where(
        F.col("tb").isin(buckets)
    )
    cols = ["query_id", "doc", "term", "tf", "doclen", "idf"]
    if has_qw:
        cols.append("qw")
    cand = (
        postings.join(F.broadcast(qt), "term")
        .join(F.broadcast(terms.select("term", "idf")), "term")
        .select(*cols)
    )
    return _score_and_rank(cand, n_docs, avgdl, k, k1, b, serve_sized=serve_sized)


def _index_buckets(spark: SparkSession, index_path: str) -> int:
    """Bucket count recovered from the partition directory names (the
    layout is self-describing; no separate metadata to drift). One
    FileSystem listing — cheap enough to skip memoization."""
    fs, p = _hadoop_fs(spark, os.path.join(index_path, "postings.parquet"))
    n = 0
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if name.startswith("tb="):
            n = max(n, int(name[3:]) + 1)
    if n == 0:
        raise ValueError(f"no tb= partitions under {index_path}/postings.parquet")
    return n


def bm25_topk(
    queries: DataFrame,
    docs: DataFrame,
    query_id_col: str = "query_id",
    query_text_col: str = "text",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    tokenizer: str = "whitespace",
    index_path: str | None = None,
    n_buckets: int = 64,
    files_per_bucket: int = 1,
) -> DataFrame:
    """BM25 top-k. With ``index_path``: build-once/query-many with the
    ivf_topk staleness contract (corpus fingerprint + params, meta-last
    commit, unique-tmp atomic rename). Without: one-shot in-memory
    scoring — same plan minus the persisted layout's partition pruning."""
    spark = docs.sparkSession
    if index_path is not None:
        params = f"bm25|{tokenizer}|nb{n_buckets}|fpb{files_per_bucket}|{id_col}|{text_col}"
        want = corpus_fingerprint(docs, params)
        if _read_index_fingerprint(spark, index_path) != want:
            tmp = f"{index_path}__build_{uuid.uuid4().hex[:8]}"
            build_bm25_index(
                docs, tmp, id_col, text_col, tokenizer, n_buckets,
                fingerprint=want, files_per_bucket=files_per_bucket,
            )
            fs, dest = _hadoop_fs(spark, index_path)
            _, tmp_p = _hadoop_fs(spark, tmp)
            if fs.exists(dest):
                fs.delete(dest, True)  # stale (or uncommitted) index
            if not fs.rename(tmp_p, dest):
                fs.delete(tmp_p, True)
                if _read_index_fingerprint(spark, index_path) != want:
                    raise RuntimeError(
                        f"BM25 index at {index_path} was concurrently replaced "
                        "with a different corpus fingerprint"
                    )
        return bm25_query(
            spark, index_path, queries, query_id_col, query_text_col, k, k1, b, tokenizer
        )

    postings, terms = bm25_postings(docs, id_col, text_col, tokenizer)
    n_docs, avgdl = _corpus_stats(postings)
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    ).alias("idf")
    qt = _query_terms(queries, query_id_col, query_text_col, tokenizer)
    cand = (
        postings.join(F.broadcast(qt), "term")
        .join(F.broadcast(terms.select("term", idf)), "term")
        .select("query_id", "doc", "term", "tf", "doclen", "idf")
    )
    return _score_and_rank(cand, n_docs, avgdl, k, k1, b)


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 60,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rk",
    top_k: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR 2009) of N ranked
    lists — the standard way to combine this module's lexical ranking
    with the vector family's ANN ranking (hybrid search):

        rrf(q, d) = Σ_lists 1 / (k + rank_list(q, d))

    Each input needs (query_col, doc_col, rank_col); lists may rank
    different candidate sets (a doc absent from a list contributes
    nothing — the standard convention). One union + one keyed aggregate
    + a per-query top-k window; score-scale-free, so BM25 scores and
    cosine similarities never need calibrating against each other."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    legs = [
        r.select(
            F.col(query_col).alias("query_id"),
            F.col(doc_col).alias("doc_id"),
            (F.lit(1.0) / (F.lit(float(k)) + F.col(rank_col))).alias("contrib"),
        )
        for r in rankings
    ]
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    # one exchange for fuse+rank (same subset-clustering argument as
    # _score_and_rank; inputs are top-k-truncated lists, so the shuffle
    # is |Q|·k·legs rows either way)
    fused = (
        out.repartition("query_id")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("rrf_score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id")
    )
    ranked = fused.withColumn("rk", F.row_number().over(w).cast("long"))
    if top_k is not None:
        ranked = ranked.where(F.col("rk") <= top_k)
    return ranked.select("query_id", "doc_id", "rrf_score", "rk")


def append_to_bm25_index(
    spark: SparkSession,
    index_path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer: str = "whitespace",
    fingerprint: str | None = None,
    batch_id: int | None = None,
) -> int:
    """Grow a persisted BM25 index with NEW documents (ids must not
    already be indexed — same contract as the ANN appends): their
    postings append into the term buckets, and the term dictionary +
    corpus stats are EXACTLY re-merged (df summed, idf recomputed from
    the new N, avgdl re-weighted), so post-append scores equal a full
    rebuild's bit-for-bit — pinned by tests. Returns docs appended
    (0 on a skipped replay).

    Ordering = crash posture: postings first, then terms/stats, then
    the commit marker, then ``fingerprint`` (meta) LAST — a crash
    anywhere leaves a stale fingerprint and the next gated call
    rebuilds; a concurrent reader mid-append may briefly score with the
    previous idf table (eventual consistency during the append window).
    ``batch_id`` reuses the state_swap commit-marker recipe under
    ``{index_path}/appends/`` for exactly-once streaming ingestion."""
    from .state_swap import batch_committed, commit_batch

    commits = f"{index_path.rstrip('/')}/appends"
    if batch_id is not None and batch_committed(spark, commits, batch_id):
        return 0
    n_buckets = _index_buckets(spark, index_path)
    postings, terms = bm25_postings(new_docs, id_col, text_col, tokenizer)
    postings = postings.localCheckpoint(eager=True)  # one eval for 3 uses
    new_n, new_avgdl = _corpus_stats(postings)
    if new_n == 0:
        if batch_id is not None:
            commit_batch(spark, commits, batch_id)
        return 0
    tb = F.pmod(F.xxhash64(F.col("term")), F.lit(n_buckets)).cast("int").alias("tb")
    postings.withColumn("tb", tb).repartition(n_buckets, "tb").write.mode(
        "append"
    ).partitionBy("tb").parquet(os.path.join(index_path, "postings.parquet"))

    old = spark.read.parquet(os.path.join(index_path, "stats.parquet")).first()
    n_docs = int(old["n_docs"]) + new_n
    avgdl = (float(old["avgdl"]) * int(old["n_docs"]) + new_avgdl * new_n) / n_docs

    old_terms = spark.read.parquet(os.path.join(index_path, "terms.parquet")).select(
        "term", "df"
    )
    merged = (
        old_terms.unionByName(terms)
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    ).alias("idf")
    # the dictionary is vocabulary-sized (not corpus-sized): rewrite in
    # place; readers between this overwrite and the stats write see a
    # consistent dictionary with one-batch-stale stats at worst
    merged.select("term", "df", idf).withColumn("tb", tb).repartition(
        min(n_buckets, 8), "tb"
    ).write.mode("overwrite").partitionBy("tb").parquet(
        os.path.join(index_path, "terms.parquet")
    )
    local_rows(
        spark, [(n_docs, avgdl)], "n_docs long, avgdl double"
    ).write.mode("overwrite").parquet(
        os.path.join(index_path, "stats.parquet")
    )
    if batch_id is not None:
        commit_batch(spark, commits, batch_id)
    if fingerprint is not None:
        local_rows(
            spark, [(fingerprint,)], "fingerprint STRING"
        ).write.mode("overwrite").parquet(os.path.join(index_path, "meta.parquet"))
    return new_n


def streaming_bm25_append(
    docs_stream,
    index_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer: str = "whitespace",
    trigger_seconds: int = 5,
    available_now: bool = False,
):
    """Streaming search-index ingestion: each micro-batch of arriving
    documents appends via ``append_to_bm25_index`` with the batch id as
    the replay guard — exactly-once at the postings table even across
    checkpoint loss (the ivf.streaming_ivf_append contract). The index
    must already exist (bootstrap with build_bm25_index/bm25_topk over
    the seed corpus — an empty index has no bucket layout to append
    into)."""

    def handle(batch_df, batch_id: int) -> None:
        append_to_bm25_index(
            batch_df.sparkSession, index_path, batch_df,
            id_col=id_col, text_col=text_col, tokenizer=tokenizer,
            batch_id=int(batch_id),
        )

    writer = docs_stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
