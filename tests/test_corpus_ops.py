"""Corpus-composition operators: document chunking."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import pytest

from binance_data_pipeline_spark.operators.text import chunk_documents


# ------------------------------------------------------------- chunking

def test_chunk_documents_windows_and_overlap(spark):
    text = " ".join(f"w{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame([(1, text), (2, "short doc")], "doc_id long, text string")
    chunks = chunk_documents(df, chunk_tokens=4, overlap_tokens=1).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r["id"], []).append((r["chunk_idx"], r["chunk_text"], r["n_tokens"]))
    c1 = sorted(by_doc[1])
    # step = 3, starts at tokens 1,4,7 (1-based); last window clamped
    assert [c[1] for c in c1] == [
        "w0 w1 w2 w3",
        "w3 w4 w5 w6",
        "w6 w7 w8 w9",
    ]
    assert all(c[2] == 4 for c in c1)
    # short doc: exactly one chunk, all tokens
    assert by_doc[2] == [(0, "short doc", 2)]

    # overlap reconstruction: dropping the first overlap_tokens of every
    # chunk after the first re-yields the original token stream
    toks = c1[0][1].split()
    for _, t, _ in c1[1:]:
        toks += t.split()[1:]
    assert toks == text.split()

    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=4, overlap_tokens=4)


def test_corpus_ops_are_map_only(spark):
    """Chunking must plan ZERO exchanges — it is a map-side stage; a
    shuffle here would be pure waste at 100 TB."""
    df = spark.createDataFrame(
        [(1, "some text with words", "en")], "doc_id long, text string, lang string"
    )
    out = chunk_documents(df, chunk_tokens=8, overlap_tokens=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
