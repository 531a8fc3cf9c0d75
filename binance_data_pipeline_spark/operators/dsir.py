"""DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
2023): pick raw-corpus documents whose hashed-n-gram distribution looks
like a TARGET corpus (e.g. "select web pages that look like Wikipedia +
books"). The strongest published *distribution-level* selector; the
model-based scorers here (lm_score.py, quality_classifier.py) rank by
absolute quality, DSIR matches a target mixture.

Recipe (all public, from the paper):

1. featurize every document as a bag of hashed n-grams (unigrams +
   bigrams hashed into ``buckets`` slots — the paper's 10k);
2. fit two smoothed multinomials over the buckets: p̂ on a target
   sample, q̂ on a raw-corpus sample;
3. per raw doc, importance log-weight  log w(x) = Σ_g r[bucket(g)]
   where r[b] = log p̂_b − log q̂_b  (the multinomial coefficient cancels
   in the ratio);
4. resample without replacement via Gumbel top-k over log w — here the
   Gumbel noise is derived from xxhash64(id, seed), so the selected set
   is reproducible under any partitioning or cluster size (same contract
   as every draw in sampling.py).

Scale shape: the two distribution fits are one hashed-gram aggregate
each, output ≤ ``buckets`` rows (driver/broadcast state is the bucket
table, KBs — never corpus-sized). Scoring the 100 TB crawl is one
explode → broadcast hash join on bucket → per-doc sum, identical plan
shape to lm_score.py; selection is a distributed TakeOrdered top-k. No
Python anywhere — tokenize/n-gram/hash are JVM higher-order functions.

North-star extension; the reference has no corpus-selection surface.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .vocab import _ngram_array, _token_array

__all__ = [
    "hashed_ngram_buckets",
    "bucket_distribution",
    "dsir_log_ratio",
    "dsir_score",
    "dsir_resample",
]

#: grain for the deterministic Gumbel draw (matches sampling._GRAIN)
_GRAIN = 1 << 31


def hashed_ngram_buckets(
    text_col: str,
    ns: tuple[int, ...] = (1, 2),
    buckets: int = 10_000,
    tokenizer: str = "whitespace",
) -> Column:
    """array<int> of hashed n-gram bucket ids for one document — the
    DSIR feature map. One expression, no Python: per n, sliding n-grams
    of the token array, concatenated across ``ns``, each gram hashed to
    ``pmod(xxhash64(gram), buckets)``."""
    tk = _token_array(text_col, tokenizer)
    per_n = [_ngram_array(tk, n) for n in ns]
    grams = per_n[0] if len(per_n) == 1 else F.concat(*per_n)
    return F.transform(grams, lambda g: F.pmod(F.xxhash64(g), F.lit(buckets)).cast("int"))


def bucket_distribution(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ns: tuple[int, ...] = (1, 2),
    buckets: int = 10_000,
    tokenizer: str = "whitespace",
) -> DataFrame:
    """(bucket, cnt) hashed-gram counts over a corpus — ≤ ``buckets``
    output rows regardless of corpus size (one hash aggregate with
    map-side combine)."""
    return (
        docs.select(F.explode(hashed_ngram_buckets(text_col, ns, buckets, tokenizer)).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dsir_log_ratio(
    target_docs: DataFrame,
    raw_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ns: tuple[int, ...] = (1, 2),
    buckets: int = 10_000,
    smoothing: float = 1.0,
    tokenizer: str = "whitespace",
) -> tuple[DataFrame, float]:
    """Per-bucket importance log-ratio r[b] = log p̂_b − log q̂_b with
    add-``smoothing`` estimates p̂_b = (c_b + a)/(N + a·B). Returns
    (ratio_df(bucket, log_ratio), default_ratio) — the default is the
    ratio of two never-observed buckets, coalesced in by the scorer so
    unseen grams need no second join. Both inputs are SAMPLES in the
    paper's setup; passing full corpora is correct, just more compute."""
    tgt = bucket_distribution(target_docs, id_col, text_col, ns, buckets, tokenizer)
    raw = bucket_distribution(raw_docs, id_col, text_col, ns, buckets, tokenizer)
    n_t = (tgt.agg(F.sum("cnt")).first()[0]) or 0
    n_q = (raw.agg(F.sum("cnt")).first()[0]) or 0
    a = float(smoothing)
    denom_t = n_t + a * buckets
    denom_q = n_q + a * buckets
    joined = tgt.withColumnRenamed("cnt", "ct").join(
        raw.withColumnRenamed("cnt", "cq"), "bucket", "full_outer"
    )
    ratio = joined.select(
        "bucket",
        (
            F.log((F.coalesce(F.col("ct"), F.lit(0)) + F.lit(a)) / F.lit(denom_t))
            - F.log((F.coalesce(F.col("cq"), F.lit(0)) + F.lit(a)) / F.lit(denom_q))
        ).alias("log_ratio"),
    )
    default = math.log(a / denom_t) - math.log(a / denom_q)
    return ratio, default


def dsir_score(
    docs: DataFrame,
    ratio: DataFrame,
    default_ratio: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    ns: tuple[int, ...] = (1, 2),
    buckets: int = 10_000,
    tokenizer: str = "whitespace",
) -> DataFrame:
    """(id, n_grams, dsir_logw): per-document importance log-weight —
    the sum of bucket log-ratios over the doc's grams (bag-of-grams
    multinomial; the coefficient term cancels). Docs with zero grams are
    absent (no evidence). Plan: explode → broadcast join on bucket →
    one keyed aggregate — the lm_score.py shape."""
    grams = docs.select(
        F.col(id_col).alias("id"),
        F.explode(hashed_ngram_buckets(text_col, ns, buckets, tokenizer)).alias("bucket"),
    )
    joined = grams.join(F.broadcast(ratio), "bucket", "left")
    return (
        joined.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("log_ratio"), F.lit(default_ratio))).alias("dsir_logw"),
        )
        .select(F.col("id").alias(id_col), "n_grams", "dsir_logw")
    )


def dsir_resample(
    raw_docs: DataFrame,
    target_docs: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    ns: tuple[int, ...] = (1, 2),
    buckets: int = 10_000,
    smoothing: float = 1.0,
    seed: int = 0,
    tokenizer: str = "whitespace",
    exact_limit: int = 1_000_000,
    threshold_rel_err: float = 0.001,
) -> DataFrame:
    """Select ``k`` raw documents by Gumbel top-k over the DSIR weight —
    equivalent to sampling k docs without replacement with probability ∝
    w(x) (Gumbel-max trick), which is the paper's resampling step (not a
    hard argmax, so near-target docs win usually but diversity survives).

    The Gumbel draw g = −log(−log(u)) uses u from xxhash64(id, seed)
    (offset half a grain so u ∈ (0,1)): same (id, seed) → same noise on
    any cluster. Returns the selected docs with ``dsir_logw`` and
    ``dsir_key`` attached.

    Hybrid selection by k (a DSIR run over
    a crawl selects k in the hundreds of millions, and a TakeOrdered
    merges k rows ON THE DRIVER):

      - k ≤ ``exact_limit``: EXACT — orderBy(key desc).limit(k), a
        distributed per-partition top-k with a k-row driver merge;
      - larger k: the k-th key is located by ``approxQuantile`` on
        dsir_key (one aggregate, ``threshold_rel_err`` rank error) and
        selection is a MAP-SIDE filter ``key ≥ threshold`` — no sort,
        no driver materialization; the selected count is approximate to
        the quantile's rank error (~±rel_err·n docs)."""
    ratio, default = dsir_log_ratio(
        target_docs, raw_docs, id_col, text_col, ns, buckets, smoothing, tokenizer
    )
    scores = dsir_score(
        raw_docs, ratio, default, id_col, text_col, ns, buckets, tokenizer
    )
    u = (F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(_GRAIN)) + F.lit(0.5)) / F.lit(
        float(_GRAIN)
    )
    gumbel = -F.log(-F.log(u))
    keyed = scores.withColumn("dsir_key", F.col("dsir_logw") + gumbel)
    if k <= exact_limit:
        picked = keyed.orderBy(F.col("dsir_key").desc(), F.col(id_col)).limit(k)
    else:
        n = keyed.count()
        if k >= n:
            picked = keyed
        else:
            q = 1.0 - k / n
            (threshold,) = keyed.stat.approxQuantile(
                "dsir_key", [q], threshold_rel_err
            )
            picked = keyed.where(F.col("dsir_key") >= threshold)
    return raw_docs.join(
        picked.select(F.col(id_col).alias("__sel_id"), "dsir_logw", "dsir_key"),
        F.col(id_col) == F.col("__sel_id"),
    ).drop("__sel_id")
