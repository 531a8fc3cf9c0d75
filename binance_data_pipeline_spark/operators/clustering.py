"""Corpus topic discovery: k-means clusters over document embeddings +
c-TF-IDF cluster keywords (the BERTopic recipe, Grootendorst 2022,
re-expressed as DataFrame aggregates).

Why it belongs in the engine: topic composition describes a document
set and drives dedup cell layouts — and a crawl rarely arrives with
usable domain labels. Clustering synthesises them from content.

Scale design (100 TB):
- embeddings come from ``operators/embedder`` (one Arrow map stage) or
  any existing ``array<float>`` column;
- centroids train on a deterministic sample via ``ivf.train_centroids``
  (never a full-corpus pass), assignment is ``ivf._assign`` — a single
  map-stage argmax over a centroid literal, no explode, no shuffle;
- keywords are two hash aggregates (cluster×term counts, term totals)
  + one broadcast join + one top-m window over ≤ k·|vocab-per-cluster|
  rows. Nothing driver-side except the k centroid vectors.

North-star extension; the reference has no text surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .ivf import _assign, train_centroids
from .text import tokens

__all__ = ["cluster_corpus", "cluster_keywords", "discover_topics"]


def cluster_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str | None = None,
    k: int = 16,
    embed_dim: int = 256,
    seed: int = 0,
    iterations: int = 4,
    sample_target: int | None = 4096,
) -> DataFrame:
    """(id, cluster_id) for every doc. ``vec_col=None`` embeds
    ``text_col`` in-flight with the deterministic hash encoder;
    pass an existing embedding column to cluster model embeddings
    instead. Deterministic end to end (seeded encoder, lowest-id
    k-means init, id-hash sampling)."""
    if vec_col is None:
        from .embedder import embed_texts, hash_encoder

        with_vec = embed_texts(
            docs.select(id_col, text_col), text_col=text_col,
            encoder=hash_encoder(embed_dim, seed=seed),
        )
        vec_col = "embedding"
    else:
        with_vec = docs
    cents = train_centroids(
        with_vec, id_col=id_col, vec_col=vec_col, k=k,
        iterations=iterations, sample_target=sample_target,
    )
    return _assign(with_vec, id_col, vec_col, cents).select(
        F.col("id").alias(id_col), F.col("cell_id").alias("cluster_id")
    )


def cluster_keywords(
    docs: DataFrame,
    assignments: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_terms: int = 10,
    min_term_len: int = 3,
) -> DataFrame:
    """(cluster_id, term, score, rk): the ``top_terms`` most
    cluster-characteristic terms by c-TF-IDF —

        score(t, c) = tf(t, c) · log(1 + A / f(t))

    where tf is the term's count in the cluster, f its corpus-wide
    count and A the mean cluster token mass (Grootendorst 2022, eq. 1;
    class-based TF-IDF treats each cluster as one pseudo-document, so
    ubiquitous terms are damped and cluster-specific ones surface).
    Terms shorter than ``min_term_len`` are dropped (articles and
    punctuation dominate otherwise)."""
    pairs = (
        docs.join(assignments.select(id_col, "cluster_id"), id_col)
        .select("cluster_id", F.explode(tokens(text_col)).alias("term"))
        .where(F.length("term") >= min_term_len)
    )
    tf = pairs.groupBy("cluster_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    totals = tf.groupBy("term").agg(F.sum("tf").alias("f"))
    # A = average token mass per cluster (scalar, from the tf aggregate)
    a_row = tf.agg(
        (F.sum("tf") / F.countDistinct("cluster_id")).alias("A")
    ).first()
    a = float(a_row["A"]) if a_row["A"] is not None else 0.0
    # term-keyed shuffle join, NOT broadcast: a crawl's vocabulary is
    # itself web-scale; AQE may still elect broadcast when it fits
    scored = tf.join(totals, "term").withColumn(
        "score", F.col("tf") * F.log1p(F.lit(a) / F.col("f"))
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= top_terms)
        .select("cluster_id", "term", "score", "rk")
    )


def discover_topics(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    embed_dim: int = 256,
    seed: int = 0,
    top_terms: int = 10,
) -> tuple[DataFrame, DataFrame]:
    """One-call topic discovery from raw text:
    (assignments (id, cluster_id), keywords (cluster_id, term, score,
    rk)). The assignments frame is a synthesized domain column."""
    assignments = cluster_corpus(
        docs, id_col=id_col, text_col=text_col, k=k,
        embed_dim=embed_dim, seed=seed,
    )
    kw = cluster_keywords(
        docs, assignments, id_col=id_col, text_col=text_col,
        top_terms=top_terms,
    )
    return assignments, kw
