"""Corpus-composition operators: PII redaction, document chunking,
deterministic sampling/shuffling."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import pytest
from pyspark.sql import functions as F

from binance_data_pipeline_spark.operators.sampling import (
    shuffle_deterministic,
    stratified_sample,
)
from binance_data_pipeline_spark.operators.text import (
    chunk_documents,
    redact_documents,
)


# ------------------------------------------------------------ redaction

def test_redact_pii_types_and_counts(spark):
    rows = [
        (1, "contact alice@example.com or visit https://example.com/x?q=1 now"),
        (2, "server at 192.168.1.10 answered; call 555-123-4567 after lunch"),
        (3, "mail bob.smith+tag@sub.domain.org and carol@x.io today"),
        (4, "perfectly clean prose with no identifiers at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in redact_documents(df).collect()}

    assert "<EMAIL>" in out[1]["text"] and "<URL>" in out[1]["text"]
    assert "alice@example.com" not in out[1]["text"]
    assert out[1]["pii"]["email"] == 1 and out[1]["pii"]["url"] == 1
    assert "<IP>" in out[2]["text"] and "<PHONE>" in out[2]["text"]
    assert out[2]["pii"]["ip"] == 1 and out[2]["pii"]["phone"] == 1
    assert out[3]["pii"]["email"] == 2
    assert out[4]["text"] == rows[3][1]  # untouched
    assert all(v == 0 for v in out[4]["pii"].asDict().values())

    # shielding order: the dotted quad must not double-count as phone
    assert out[2]["pii"]["phone"] == 1


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


# ------------------------------------------------------------- sampling


def test_stratified_sample_rates(spark):
    df = spark.range(30_000).select(
        F.col("id").alias("doc_id"),
        F.element_at(F.array(F.lit("en"), F.lit("de"), F.lit("fr")), (F.col("id") % 3 + 1).cast("int")).alias("lang"),
    )
    out = stratified_sample(df, "doc_id", "lang", {"en": 0.5, "de": 0.1}).groupBy("lang").count()
    got = {r["lang"]: r["count"] for r in out.collect()}
    assert abs(got["en"] / 10_000 - 0.5) < 0.03
    assert abs(got["de"] / 10_000 - 0.1) < 0.03
    assert "fr" not in got  # default_rate 0


def test_shuffle_deterministic_reproducible_permutation(spark):
    df = spark.range(5_000).withColumnRenamed("id", "doc_id")
    s1 = [r["doc_id"] for r in shuffle_deterministic(df, "doc_id", seed=3, num_partitions=8).collect()]
    s2 = [r["doc_id"] for r in shuffle_deterministic(df.repartition(17), "doc_id", seed=3, num_partitions=8).collect()]
    assert s1 == s2                      # same permutation, any input layout
    assert sorted(s1) == list(range(5_000))  # it IS a permutation
    s3 = [r["doc_id"] for r in shuffle_deterministic(df, "doc_id", seed=4, num_partitions=8).collect()]
    assert s1 != s3                      # seed gives an independent order


def test_corpus_ops_are_map_only(spark):
    """Redaction, chunking, and sampling must plan ZERO exchanges — they
    are the map-side stages of the corpus pipeline; a shuffle here would
    be pure waste at 100 TB (shuffle_deterministic's single range
    exchange is the deliberate exception)."""
    df = spark.createDataFrame(
        [(1, "some text with words", "en")], "doc_id long, text string, lang string"
    )
    for name, out in [
        ("redact", redact_documents(df)),
        ("chunk", chunk_documents(df, chunk_tokens=8, overlap_tokens=2)),
        ("sample", stratified_sample(df, "doc_id", "lang", {"en": 0.5})),
    ]:
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, (name, plan)


def test_contamination_report_finds_planted_probe(spark):
    from binance_data_pipeline_spark.operators.dedup import contamination_report

    probe_text = (
        "what is the capital of france answer paris is the capital and "
        "largest city of france situated on the seine river"
    )
    filler = (
        "training data about parquet row groups and shuffle exchanges in "
        "distributed columnar engines with adaptive query execution plans "
        "spanning many executor nodes and partitioned joins"
    )
    corpus = spark.createDataFrame(
        [
            (1, filler),
            (2, "intro text " + probe_text + " plus trailing commentary"),  # full inclusion
            (3, filler.replace("parquet", "orc")),
            (4, "partial leak what is the capital of france answer paris then diverges completely "
                "into unrelated material about database indexes and storage"),
        ],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame([(100, probe_text)], "doc_id long, text string")

    hits = {r["doc_id"]: r for r in contamination_report(corpus, probes, n=8).collect()}
    assert 2 in hits and hits[2]["overlap"] == 1.0       # verbatim inclusion
    assert 4 in hits and 0 < hits[4]["overlap"] < 1.0    # partial leak
    assert 1 not in hits and 3 not in hits               # clean docs

    # raising the floor drops the partial leak
    strict = {r["doc_id"] for r in
              contamination_report(corpus, probes, n=8, min_overlap=0.9).collect()}
    assert strict == {2}


def test_contamination_bloom_matches_exact_scan(spark):
    """The Bloom-prefiltered scan returns BYTE-IDENTICAL results to
    contamination_report (false positives die at the exact verify), the
    prefilter genuinely removes most non-matching corpus shingles, and
    the plan stays UDF-free with the probe side un-broadcast."""
    import numpy as np

    from binance_data_pipeline_spark.operators.dedup import (
        contamination_report,
        contamination_report_bloom,
        shingle_table,
    )

    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(400)]
    mk = lambda k: " ".join(rng.choice(vocab, size=60))
    probe_text = " ".join(rng.choice(vocab, size=40))
    corpus = spark.createDataFrame(
        [(i, mk(i)) for i in range(40)]
        + [(100, "prefix " + probe_text + " suffix"), (101, mk(101))],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [(500, probe_text), (501, " ".join(rng.choice(vocab, size=35)))],
        "doc_id long, text string",
    )

    want = sorted(
        map(tuple, contamination_report(corpus, probes, n=8).collect())
    )
    got_df = contamination_report_bloom(corpus, probes, n=8)
    assert sorted(map(tuple, got_df.collect())) == want and len(want) >= 1

    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "InPandas" not in plan

    # prefilter effectiveness: corpus shingles surviving the bloom are a
    # small fraction (true matches + ~0.3% fp of ~2400 distinct shingles)
    c_sh = shingle_table(corpus, "doc_id", "text", 8).select(
        F.col("id").alias("c_id"), F.explode("sh").alias("g")
    )
    total = c_sh.count()
    p_sh = shingle_table(probes, "doc_id", "text", 8).select(F.explode("sh").alias("g"))
    survivors = c_sh.join(p_sh.distinct(), "g", "left_semi").count()
    # bloom-passed set ≈ survivors (+fp); bound it well under the corpus
    assert survivors < total * 0.1


def test_repetition_ratio_scores(spark):
    from binance_data_pipeline_spark.operators.text import repetition_ratio

    df = spark.createDataFrame(
        [
            (1, "buy now " * 50),                                 # degenerate loop
            (2, " ".join(f"w{i}" for i in range(100))),           # all-distinct prose
            (3, "too short"),                                     # < n tokens
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["rep"] for r in
           df.select("doc_id", repetition_ratio("text").alias("rep")).collect()}
    assert got[1] > 0.9
    assert got[2] == 0.0
    assert got[3] == 0.0
    # map-only
    plan = df.select(repetition_ratio("text"))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
