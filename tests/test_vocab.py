"""Vocabulary tokenizer selection: the tokenizer name that picks the
token array (whitespace or BPE-ish) is validated, so a typo fails at
plan construction instead of indexing with an unintended vocabulary."""

from __future__ import annotations

import pytest

from binance_data_pipeline_spark.operators.bm25 import bm25_postings


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog sat"),
            (3, "a mat and a cat"),
        ],
        "doc_id long, text string",
    )


def test_tokenizer_validation(spark):
    with pytest.raises(ValueError, match="tokenizer"):
        bm25_postings(_docs(spark), tokenizer="nope")
