"""Language-model quality scoring — the CCNet recipe (Wenzek et al.,
"CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
Data", LREC 2020): score each document by its cross-entropy under a
small LM trained on a trusted reference corpus (CCNet uses Wikipedia +
KenLM); low perplexity ≈ fluent prose, high ≈ boilerplate/gibberish.
Filtering or bucketing on the score is the strongest single quality
signal most corpus pipelines have.

This implementation is the Spark-native equivalent with an n-gram
maximum-likelihood LM (unigram by default; pass n=2 for bigrams) and
add-k smoothing instead of KenLM's Kneser-Ney — deliberately: the model
lives in a DataFrame, trains in one aggregation, broadcasts to every
executor, and scoring stays entirely JVM-side (explode → broadcast join →
per-doc aggregate with map-side partial agg). The heuristic bundle in
``quality_rules.py`` (Gopher/C4) covers structural junk; this covers
fluency — a corpus pipeline typically applies both.

Scale: training is one shuffle at token grain over the REFERENCE corpus
(small by construction — a trusted slice, not the crawl). Scoring the
100 TB crawl is one explode + one broadcast hash join (the LM is top-V
rows, MBs) + one groupBy(doc) aggregate. No Python in either path.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .vocab import _ngram_array, _token_array, token_frequencies

__all__ = ["train_ngram_lm", "lm_cross_entropy", "filter_by_lm"]


def train_ngram_lm(
    ref_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 1,
    vocab_size: int = 50_000,
    add_k: float = 0.5,
    tokenizer: str = "whitespace",
) -> DataFrame:
    """Maximum-likelihood n-gram LM with add-k smoothing from a trusted
    reference corpus: (token, logp) for the top ``vocab_size`` n-grams,
    plus ONE ``__OOV__`` row carrying the smoothed out-of-vocabulary
    log-probability (per unseen type; the scorer coalesces misses to it).
    Probabilities: p(t) = (c(t)+k) / (N + k·(V+1)) — all mass accounted,
    the +1 type being the OOV bucket."""
    freq = token_frequencies(
        ref_docs, id_col=id_col, text_col=text_col, tokenizer=tokenizer, n=n
    )
    top = freq.orderBy(F.desc("count"), F.asc("token")).limit(vocab_size)
    agg = top.agg(F.sum("count").alias("N"), F.count(F.lit(1)).alias("V")).first()
    n_tokens, v = (agg["N"] or 0), (agg["V"] or 0)
    denom = float(n_tokens + add_k * (v + 1))
    lm = top.select(
        "token",
        (F.log((F.col("count") + F.lit(float(add_k))) / F.lit(denom))).alias("logp"),
    )
    spark = ref_docs.sparkSession
    oov = spark.createDataFrame(
        [("__OOV__", math.log(add_k / denom) if denom > 0 else -20.0)],
        "token string, logp double",
    )
    return lm.unionByName(oov)


def lm_cross_entropy(
    docs: DataFrame,
    lm: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 1,
    tokenizer: str = "whitespace",
) -> DataFrame:
    """Per-document LM features: (id, n_scored, cross_entropy, oov_rate).
    cross_entropy = mean −log p(token) in nats (lower = more fluent under
    the reference LM); oov_rate = fraction of tokens outside the LM
    vocabulary. Docs yielding zero n-grams (shorter than n) are absent
    from the output — they carry no evidence either way.

    Plan: explode n-grams → broadcast join against the LM → one keyed
    aggregate. The OOV logp rides into the plan as a literal, so misses
    coalesce without a second join."""
    oov_row = lm.where(F.col("token") == "__OOV__").select("logp").first()
    if oov_row is None:
        raise ValueError("lm has no __OOV__ row — train with train_ngram_lm")
    oov_logp = float(oov_row["logp"])
    model = lm.where(F.col("token") != "__OOV__")

    grams = docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            _ngram_array(_token_array(text_col, tokenizer), n)
        ).alias("token"),
    )
    joined = grams.join(F.broadcast(model), "token", "left")
    return (
        joined.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_scored"),
            (-F.avg(F.coalesce(F.col("logp"), F.lit(oov_logp)))).alias("cross_entropy"),
            F.avg(F.when(F.col("logp").isNull(), 1.0).otherwise(0.0)).alias("oov_rate"),
        )
        .select(F.col("id").alias(id_col), "n_scored", "cross_entropy", "oov_rate")
    )


def filter_by_lm(
    docs: DataFrame,
    lm: DataFrame,
    max_cross_entropy: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 1,
    tokenizer: str = "whitespace",
) -> DataFrame:
    """Keep docs scoring ≤ ``max_cross_entropy`` under the reference LM
    (CCNet keeps the low-perplexity head/middle of the distribution).
    Unscoreable docs (no n-grams) are dropped — they carry no fluency
    evidence and are shorter than n tokens anyway."""
    scores = lm_cross_entropy(docs, lm, id_col, text_col, n, tokenizer)
    keep = scores.where(F.col("cross_entropy") <= max_cross_entropy).select(
        F.col(id_col).alias("__keep_id")
    )
    return docs.join(keep, docs[id_col] == F.col("__keep_id"), "left_semi")
