"""Exact-substring (span-level) dedup — the ExactSubstr recipe of Lee et
al., "Deduplicating Training Data Makes Language Models Better" (ACL'22),
re-expressed as DataFrame ops.

Whole-doc dedup (exact/MinHash/SimHash/semantic — operators/dedup.py,
semdedup.py) keeps or drops entire documents; it cannot touch the other
failure mode of web corpora: long VERBATIM spans (licenses, boilerplate,
quoted passages) duplicated across otherwise-distinct documents. The
original implementation builds a suffix array over the concatenated corpus
— inherently single-machine. The distributed equivalent used here: every
L-token rolling window is hashed; a window hash seen more than once marks
a duplicated span; all occurrences except one canonical keeper (smallest
(doc, start) — "first in corpus order") have their token positions
removed, and affected documents are rebuilt from their surviving tokens.
A duplicated region of length M ≥ L produces M-L+1 duplicated windows
whose position-union covers the whole region, so maximal regions are
removed without ever materializing them.

Everything is JVM-side (split / transform / xxhash64 / posexplode /
joins) — no Python in the data path:

  1. window table:  (doc, start, hash) — one map-side pass, windows from
     `transform(sequence(...))` over the token array
  2. dup hashes:    groupBy(hash) → occurrence count + min-(doc,start)
     keeper; count > 1 survives
  3. dropped positions: occurrences ≠ keeper, exploded to the L covered
     positions, distinct
  4. rebuild: ONLY affected docs (semi-join) are token-exploded,
     anti-joined against dropped positions, and re-assembled in position
     order; untouched docs keep their original text byte-for-byte

Rebuilt docs are re-joined with single spaces (token-level semantics —
original inter-token whitespace is not preserved in rebuilt docs; this
matches tokenizer-facing corpora where runs of whitespace are equivalent).

At 100 TB: the window table is one token-linear map pass; the hash agg is
one shuffle with map-side partial aggregation; rebuilds touch only
documents that actually contain duplicated spans. A boilerplate span
shared by millions of docs fans out linearly in its occurrence count
(never quadratically): the per-hash state is (count, keeper), not a pair
list. Window length L bounds the position-explode fan-out (×L rows per
dropped window).

Reference scope note: the binance reference pipeline has no text dedup at
all; this is part of the training-data extension surface (brief §"beyond
the reference").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["dedup_substrings"]


def _window_table(docs: DataFrame, id_col: str, text_col: str, min_len: int) -> DataFrame:
    """(id, start, h): xxhash64 of every ``min_len``-token rolling window.
    Docs shorter than ``min_len`` tokens produce no windows (they cannot
    contain a qualifying span). `start` is a 0-based token offset."""
    tk = F.split(F.trim(F.col(text_col)), r"\s+")
    return (
        docs.select(F.col(id_col).alias("id"), tk.alias("tk"))
        .where(F.size("tk") >= min_len)
        .select(
            "id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(tk) - {int(min_len)}), "
                    f"s -> struct(s AS start, "
                    f"xxhash64(concat_ws(' ', slice(tk, s + 1, {int(min_len)}))) AS h))"
                )
            ).alias("w"),
        )
        .select("id", F.col("w.start").alias("start"), F.col("w.h").alias("h"))
    )


def dedup_substrings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 20,
) -> tuple[DataFrame, DataFrame]:
    """Remove every duplicated span of ≥ ``min_len`` tokens from all but
    its canonical (first-in-corpus-order) occurrence.

    Returns ``(cleaned, report)``:
      - ``cleaned``: same schema as ``docs``; affected docs carry rebuilt
        ``text`` (surviving tokens, single-space joined — may be empty if
        the whole doc was duplicated spans) — untouched docs pass through
        byte-identical, no re-serialization
      - ``report``: per-doc removal audit (doc id, n_tokens_removed)

    Within-doc repeats dedup the same way (the keeper is the earliest
    start). Overlapping duplicated regions remove as a position-union, so
    nested/adjacent spans cannot double-remove or leave slivers."""
    w = _window_table(docs, id_col, text_col, min_len)
    dup = (
        w.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.min(F.struct("id", "start")).alias("keeper"),
        )
        .where(F.col("n_occ") > 1)
        .select("h", "keeper")
    )
    # non-keeper occurrences → the L token positions each window covers
    drops = (
        w.join(dup, "h")
        .where(
            (F.col("id") != F.col("keeper.id"))
            | (F.col("start") != F.col("keeper.start"))
        )
        .select(
            "id",
            F.explode(
                F.sequence(F.col("start"), F.col("start") + F.lit(int(min_len) - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    affected = drops.select("id").distinct()

    # rebuild ONLY affected docs from surviving tokens, in position order
    toks = (
        docs.join(affected, docs[id_col] == affected["id"], "left_semi")
        .select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("pos", "tok"),
        )
    )
    rebuilt = (
        toks.join(drops, ["id", "pos"], "left_anti")
        .groupBy("id")
        .agg(
            F.concat_ws(
                " ",
                F.expr("transform(array_sort(collect_list(struct(pos, tok))), x -> x.tok)"),
            ).alias("__new_text")
        )
    )
    # affected docs whose every token was dropped vanish from `rebuilt`'s
    # groupBy input — re-attach them as empty text via the affected list.
    # Reserved __sid name keeps the final join unambiguous when the
    # caller's id column is itself named "id".
    rebuilt_full = affected.join(rebuilt, "id", "left").select(
        F.col("id").alias("__sid"),
        F.coalesce("__new_text", F.lit("")).alias("__new_text"),
    )

    other_cols = [c for c in docs.columns if c != text_col]
    cleaned = (
        docs.join(rebuilt_full, docs[id_col] == rebuilt_full["__sid"], "left")
        .select(
            *other_cols,
            F.coalesce("__new_text", F.col(text_col)).alias(text_col),
        )
        .select(*docs.columns)  # original column order
    )

    report = (
        drops.groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_tokens_removed"))
        .select(F.col("id").alias(id_col), "n_tokens_removed")
    )
    return cleaned, report
