"""Heuristic quality-filter rule bundles and per-domain filtering — the
Gopher/C4-style document gate a training-data pipeline runs before dedup.

Two layers:

- ``gopher_flags`` / ``c4_flags``: named per-document boolean rule
  structs (word-count band, mean-word-length band, symbol ratio,
  bullet/ellipsis line fractions, alpha-word fraction, stopword
  presence; terminal-punctuation line fraction, sentence count,
  brace/boilerplate markers). Published heuristics from the Gopher
  (Rae et al. 2021, appendix A1.1) and C4 (Raffel et al. 2020, §2.2)
  papers, re-expressed as Spark higher-order array expressions.
- ``filter_by_domain``: per-SOURCE thresholds (a curated corpus is never
  one-size-fits-all — code corpora fail prose symbol ratios, forum text
  fails terminal punctuation). Rules are a tiny dict → broadcast-joined
  dim; unmatched domains fall back to the ``"*"`` default row.

Scale shape: flag computation is pure map-side JVM expressions (no
Python, no shuffle, pipelined with the scan); the domain-rule join is a
broadcast of an O(#domains) dim.

No reference equivalent (the reference has no text processing; its only
string ops are lower/concat, producer/binance_ws_to_kafka.py:65) — this
is part of the LLM-pipeline extension surface alongside operators/text.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import STOPWORDS, token_count, tokens

def _lines(c: Column) -> Column:
    """Non-blank lines of the document."""
    return F.filter(F.split(c, r"\n"), lambda l: F.length(F.trim(l)) > 0)


def _frac(num: Column, den: Column) -> Column:
    """num/den as double, 0.0 when den is 0 (ANSI-safe)."""
    return F.when(den > 0, num.cast("double") / den).otherwise(F.lit(0.0))


def gopher_flags(col: Column | str) -> Column:
    """Struct of Gopher-rule booleans (True = rule PASSED) plus an
    overall ``pass`` field. Thresholds follow the paper's defaults; use
    ``filter_by_domain`` when a domain needs different bands."""
    c = F.col(col) if isinstance(col, str) else col
    tk = tokens(c)
    n_tok = F.size(tk)
    word_chars = F.aggregate(
        tk, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    mean_word_len = _frac(word_chars, n_tok)
    symbolish = F.size(F.regexp_extract_all(c, F.lit(r"#|\.\.\.|…"), 0))
    lines = _lines(c)
    n_lines = F.size(lines)
    bullet_lines = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike(r"^[-*•‣▪]"))
    )
    ellipsis_lines = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike(r"(\.\.\.|…)$"))
    )
    alpha_words = F.size(F.filter(tk, lambda t: t.rlike("[a-zA-Z]")))
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    stop_hits = F.size(F.filter(tk, lambda t: F.array_contains(en_stop, t)))
    flags = {
        "word_count_ok": (n_tok >= 50) & (n_tok <= 100_000),
        "mean_word_len_ok": (mean_word_len >= 3.0) & (mean_word_len <= 10.0),
        "symbol_ratio_ok": _frac(symbolish, n_tok) <= 0.1,
        "bullet_lines_ok": _frac(bullet_lines, n_lines) <= 0.9,
        "ellipsis_lines_ok": _frac(ellipsis_lines, n_lines) <= 0.3,
        "alpha_ratio_ok": _frac(alpha_words, n_tok) >= 0.8,
        "stopword_ok": stop_hits >= 2,
    }
    overall = None
    for f in flags.values():
        overall = f if overall is None else (overall & f)
    return F.struct(
        *[v.alias(k) for k, v in flags.items()], overall.alias("pass")
    )


def c4_flags(col: Column | str, badwords: list[str] | None = None) -> Column:
    """Struct of C4-style booleans (True = PASSED): ≥3 sentences, most
    lines end in terminal punctuation, no lorem-ipsum / javascript
    boilerplate markers, no curly braces (code), no badword hits."""
    c = F.col(col) if isinstance(col, str) else col
    lines = _lines(c)
    n_lines = F.size(lines)
    terminal = F.size(
        F.filter(lines, lambda l: F.trim(l).rlike(r'[.!?"]$'))
    )
    sentences = F.size(F.regexp_extract_all(c, F.lit(r"[.!?]"), 0))
    low = F.lower(c)
    flags = {
        "sentences_ok": sentences >= 3,
        "terminal_punct_ok": _frac(terminal, n_lines) >= 0.5,
        "no_lorem": ~low.contains("lorem ipsum"),
        "no_js_marker": ~low.contains("enable javascript"),
        "no_braces": ~c.contains("{"),
    }
    if badwords:
        bw = F.array(*[F.lit(w) for w in badwords])
        flags["no_badwords"] = F.size(
            F.filter(tokens(c), lambda t: F.array_contains(bw, t))
        ) == 0
    overall = None
    for f in flags.values():
        overall = f if overall is None else (overall & f)
    return F.struct(
        *[v.alias(k) for k, v in flags.items()], overall.alias("pass")
    )


#: Rule keys accepted by filter_by_domain, with their filter semantics.
_RULE_SCHEMA = (
    "domain string, min_tokens long, max_tokens long, min_quality double, "
    "max_repetition double, require_gopher boolean, require_c4 boolean"
)
_RULE_DEFAULTS = {
    "min_tokens": 0,
    "max_tokens": 1 << 40,
    "min_quality": 0.0,
    "max_repetition": 1.0,
    "require_gopher": False,
    "require_c4": False,
}


def domain_rules_df(spark, rules: dict[str, dict]) -> DataFrame:
    """Normalize a ``{domain: {rule: threshold}}`` dict into the rules
    dim. Use ``"*"`` as the catch-all domain; unknown rule keys raise."""
    rows = []
    for domain, overrides in rules.items():
        unknown = set(overrides) - set(_RULE_DEFAULTS)
        if unknown:
            raise ValueError(
                f"unknown rule keys {sorted(unknown)} for domain {domain!r}; "
                f"valid: {sorted(_RULE_DEFAULTS)}"
            )
        merged = {**_RULE_DEFAULTS, **overrides}
        rows.append((domain, *[merged[k] for k in _RULE_DEFAULTS]))
    return spark.createDataFrame(rows, _RULE_SCHEMA)


def filter_by_domain(
    df: DataFrame,
    rules: dict[str, dict],
    domain_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-domain quality gate: each document is checked against its
    domain's thresholds (falling back to the ``"*"`` row, which is
    required). Returns the surviving rows with original columns.

    The rules dict is broadcast (O(#domains) rows) and the per-doc
    features are computed once in the same projection — one map-side
    pass over the corpus, BroadcastHashJoin, no shuffle."""
    if "*" not in rules:
        raise ValueError('rules must include a "*" default domain')
    from .text import quality_score, repetition_ratio

    spark = df.sparkSession
    dim = domain_rules_df(spark, rules)
    specific = dim.where(F.col("domain") != "*")
    default = dim.where(F.col("domain") == "*").drop("domain")
    d = F.col(domain_col)

    featured = df.withColumn("__ntok", token_count(text_col)).withColumn(
        "__q", quality_score(text_col)
    ).withColumn("__rep", repetition_ratio(text_col)).withColumn(
        "__gopher", gopher_flags(text_col)["pass"]
    ).withColumn("__c4", c4_flags(text_col)["pass"])

    joined = featured.join(
        F.broadcast(specific), d == specific["domain"], "left"
    )
    # per-rule threshold: the domain row when matched, else the default —
    # the default row is a 1-row broadcast cross join (scalar-dim shape)
    joined = joined.crossJoin(
        F.broadcast(default.select(*[F.col(k).alias(f"__dflt_{k}") for k in _RULE_DEFAULTS]))
    )
    eff = {k: F.coalesce(F.col(k), F.col(f"__dflt_{k}")) for k in _RULE_DEFAULTS}
    kept = joined.where(
        (F.col("__ntok") >= eff["min_tokens"])
        & (F.col("__ntok") <= eff["max_tokens"])
        & (F.col("__q") >= eff["min_quality"])
        & (F.col("__rep") <= eff["max_repetition"])
        & (~eff["require_gopher"] | F.col("__gopher"))
        & (~eff["require_c4"] | F.col("__c4"))
    )
    return kept.select(*df.columns)
