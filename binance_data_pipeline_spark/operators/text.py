"""Text analysis operators for the documents table — tokenizers, token
counting, quality scoring, language-ID heuristic, document
fingerprinting, chunking.

All hot-path logic is built-in `pyspark.sql.functions` (JVM codegen,
higher-order array functions) — map-side operators: no shuffle, fully
pipelined with the parquet scan. The one exception is the winnowing
fingerprint, whose per-shingle md5 HOF chain runs as CodegenFallback
(interpreted per element) — that operator also ships an Arrow-batched
kernel (``winnow_fingerprint_batch``, bit-identical output) for the
query path.

North-star extension beyond the reference (which has no text processing;
its only string ops are lower/concat, producer/binance_ws_to_kafka.py:65).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tiny per-language stopword lists for the heuristic language guesser.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "es": ["el", "la", "de", "y", "que", "los"],
    "fr": ["le", "la", "et", "les", "des", "une"],
}

#: Priority order for deterministic argmax tie-breaking.
_LANG_PRIORITY = ["en", "de", "es", "fr"]


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of trimmed, lowercased text."""
    return F.split(F.trim(F.lower(col)), r"\s+")


def token_count(col: Column | str) -> Column:
    """Whitespace token count (BIGINT for cross-engine schema parity)."""
    return F.size(tokens(col)).cast("long")


def char_count(col: Column | str) -> Column:
    return F.length(col).cast("long")


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are sentence punctuation."""
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(c, r"[.,!?;:]", "")
    return (F.length(c) - F.length(stripped)) / F.length(c)


def stopword_hits(col: Column | str, words: list[str]) -> Column:
    """Number of tokens (with multiplicity) in `words` — higher-order
    filter, no explode, no shuffle."""
    lit_words = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens(col), lambda t: F.array_contains(lit_words, t))).cast("long")


def lang_guess(col: Column | str) -> Column:
    """Heuristic language ID: argmax of per-language stopword hit counts,
    tie-broken by _LANG_PRIORITY order."""
    scores = {lang: stopword_hits(col, ws) for lang, ws in STOPWORDS.items()}
    s = {lang: scores[lang] for lang in _LANG_PRIORITY}
    return (
        F.when((s["en"] >= s["de"]) & (s["en"] >= s["es"]) & (s["en"] >= s["fr"]), "en")
        .when((s["de"] >= s["es"]) & (s["de"] >= s["fr"]), "de")
        .when(s["es"] >= s["fr"], "es")
        .otherwise("fr")
    )


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality score: length band + low punctuation +
    reasonable mean token length. Deterministic arithmetic only."""
    c = F.col(col) if isinstance(col, str) else col
    n_tok = token_count(c)
    n_char = char_count(c)
    mean_tok_len = n_char / n_tok
    len_ok = F.when((n_tok >= 10) & (n_tok <= 100000), 1.0).otherwise(0.0)
    punct_ok = F.when(punct_ratio(c) < 0.1, 1.0).otherwise(0.0)
    tok_len_ok = F.when((mean_tok_len >= 2.0) & (mean_tok_len <= 12.0), 1.0).otherwise(0.0)
    return (len_ok + punct_ok + tok_len_ok) / 3.0


#: BPE-ish pre-tokenization pattern (word / digit / punctuation classes —
#: the GPT-2 pre-tokenizer shape without lookaheads, so Java regex and RE2
#: agree on counts).
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def _token_array(text_col: str, tokenizer: str) -> Column:
    """Token array of ``text_col`` under the named tokenizer:
    ``whitespace`` (``tokens``) or ``bpe_ish`` (``BPE_ISH_PATTERN``)."""
    if tokenizer == "whitespace":
        return tokens(text_col)
    if tokenizer == "bpe_ish":
        return F.regexp_extract_all(
            F.col(text_col), F.lit(BPE_ISH_PATTERN), 0
        )
    raise ValueError(f"tokenizer must be 'whitespace' or 'bpe_ish', got {tokenizer!r}")


def bpe_ish_token_count(col: Column | str) -> Column:
    """Token count under the BPE-ish pre-tokenizer — the unit a training
    pipeline budgets by, vs. whitespace words."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0)).cast("long")


def winnow_fingerprint(col: Column | str, n: int = 3, k: int = 4) -> Column:
    """Rolling-hash document fingerprint (winnowing-style): the k smallest
    md5 hashes of word n-gram shingles, joined to one string. Documents
    sharing most shingles share the min-k set → near-exact dup key. md5 so
    the DuckDB oracle can reproduce it byte-for-byte."""
    toks = F.split(F.trim(F.lower(col)), r"\s+")
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    hashes = F.transform(idx, lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, n))))
    return F.concat_ws("|", F.slice(F.array_sort(F.array_distinct(hashes)), 1, k))


def winnow_fingerprint_batch(n: int = 3, k: int = 4):
    """Arrow-batched ``winnow_fingerprint`` over a JVM token array —
    byte-identical output (tokenization stays the JVM split; md5 hex,
    ASCII sort, min-k slice and '|' join are engine-free), replacing a
    per-shingle interpreted HOF chain (slice + concat_ws + md5 per
    position ran as CodegenFallback — measured the single most expensive
    map-side expression in the catalog at sf0.1). A null token array
    fingerprints as md5("") exactly like the Column form, where
    concat_ws skips the null slice."""
    import hashlib

    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("string")
    def fp(toks: "pd.Series") -> "pd.Series":
        md5 = hashlib.md5
        out = []
        for t in toks:
            tl = [] if t is None else list(t)
            upto = max(len(tl) - (n - 1), 1)
            hs = {
                md5(
                    " ".join(
                        x for x in tl[i : i + n] if x is not None
                    ).encode("utf-8")
                ).hexdigest()
                for i in range(upto)
            }
            out.append("|".join(sorted(hs)[:k]))
        return pd.Series(out)

    return fp


def fingerprint_normalized(col: Column | str) -> Column:
    """Near-exact fingerprint: md5 of whitespace-normalized lowercase text
    (catches trivial formatting dups)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.regexp_replace(F.trim(F.lower(c)), r"\s+", " "))


# --------------------------------------------------------------------------
# Document chunking (context-window packing prep)
# --------------------------------------------------------------------------

def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 256,
    overlap_tokens: int = 32,
) -> DataFrame:
    """Split each doc into ~chunk_tokens whitespace-token windows with
    overlap_tokens carried between consecutive chunks — the standard prep
    for fixed-context training/embedding. Emits
    (id, chunk_idx, chunk_text, n_tokens).

    All JVM-side: tokens → F.sequence over chunk starts → posexplode →
    slice + concat_ws per chunk. The tokenizer (one split) re-evaluates
    per emitted chunk after CollapseProject — cheap enough here, unlike
    the shingle pipeline's interpreted HOFs which demand a barrier before
    their generator. Docs shorter than one chunk yield exactly one chunk.
    Map-side only; no shuffle."""
    if overlap_tokens >= chunk_tokens:
        raise ValueError("overlap_tokens must be smaller than chunk_tokens")
    step = chunk_tokens - overlap_tokens
    base = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("tk"))
    # number of windows covering ALL m tokens: 1 + ceil(max(m-chunk,0)/step).
    # A plain sequence(1, m-chunk+1, step) drops the tail whenever step
    # doesn't divide (m-chunk) — the last window must be allowed to start
    # past m-chunk+1 and run short (caught by the hypothesis
    # reconstruction property, tests/test_properties.py).
    overflow = F.greatest(F.size("tk") - F.lit(chunk_tokens), F.lit(0))
    n_chunks = (F.lit(1) + F.ceil(overflow / F.lit(float(step)))).cast("long")
    starts = F.sequence(
        F.lit(1).cast("long"),
        F.lit(1) + (n_chunks - 1) * F.lit(step),
        F.lit(step).cast("long"),
    )
    chunks = base.select(
        "id",
        F.col("tk"),
        F.posexplode(starts).alias("chunk_idx", "start"),
    )
    piece = F.slice(F.col("tk"), F.col("start"), chunk_tokens)
    return chunks.select(
        "id",
        "chunk_idx",
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.size(piece).cast("long").alias("n_tokens"),
    )
