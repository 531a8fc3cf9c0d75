"""Corpus vocabulary statistics: token / n-gram frequency tables — the
counting pass that precedes vocab construction over a training corpus.

Scale shape: one generator (posexplode of the per-doc token array,
materialized in its own projection so the array is built once per doc,
not once per emitted row — see operators/dedup.py's interpreted-HOF
note) followed by ONE hash aggregation on the token key. Partial
aggregation (map-side combine) is what makes this safe at 100 TB: the
heavy hitters ("the", "of") collapse to one partial row per task before
the exchange, so token skew — the most skewed distribution in NLP —
never concentrates on a reducer. Document frequencies use
approx_count_distinct by default (a mergeable HLL sketch riding the
same aggregation); exact mode adds a distinct pre-pass for callers that
need it at small scale.

No reference equivalent (the reference has no text processing) — part
of the LLM-pipeline extension surface with operators/text.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import BPE_ISH_PATTERN, tokens


def _token_array(text_col: str, tokenizer: str) -> Column:
    if tokenizer == "whitespace":
        return tokens(text_col)
    if tokenizer == "bpe_ish":
        return F.regexp_extract_all(
            F.col(text_col), F.lit(BPE_ISH_PATTERN), 0
        )
    raise ValueError(f"tokenizer must be 'whitespace' or 'bpe_ish', got {tokenizer!r}")


def _ngram_array(tk: Column, n: int) -> Column:
    """Sliding word n-grams of a token array (docs shorter than n yield
    none)."""
    if n == 1:
        return tk
    idx = F.when(
        F.size(tk) >= n, F.sequence(F.lit(1), F.size(tk) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tk, i, n)))


def token_frequencies(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer: str = "whitespace",
    n: int = 1,
    min_count: int = 1,
    exact_doc_freq: bool = False,
) -> DataFrame:
    """(token, count, doc_count) over the corpus — term frequency plus
    per-document incidence for every token (or word n-gram when n>1).

    ``doc_count`` is an HLL estimate (±2% default rsd) unless
    ``exact_doc_freq``; exact mode inserts a (token, id) distinct —
    a second shuffle — and is meant for small-corpus validation."""
    base = df.select(
        F.col(id_col).alias("id"),
        _ngram_array(_token_array(text_col, tokenizer), n).alias("tk"),
    )
    pairs = base.select("id", F.explode("tk").alias("token"))
    if exact_doc_freq:
        per_doc = pairs.groupBy("token", "id").agg(
            F.count(F.lit(1)).alias("c")
        )
        out = per_doc.groupBy("token").agg(
            F.sum("c").alias("count"),
            F.count(F.lit(1)).cast("long").alias("doc_count"),
        )
    else:
        out = pairs.groupBy("token").agg(
            F.count(F.lit(1)).alias("count"),
            F.approx_count_distinct("id").alias("doc_count"),
        )
    return out.where(F.col("count") >= min_count)
