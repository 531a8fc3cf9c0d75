"""BM25 retrieval: hand-computed scores vs a pure-python reference,
DuckDB cross-engine check on the real documents fixture, persisted
build-once index with term-bucket partition pruning, JVM-only plan."""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, "/root/repo")

from collections import Counter

from pyspark.sql import functions as F

from binance_data_pipeline_spark.operators.bm25 import bm25_query, bm25_topk
from binance_data_pipeline_spark.plans.audit import audit_plan, plan_text

SF = "/root/testdata/sf0.001"

CORPUS = [
    ("d1", "the cat sat on the mat"),
    ("d2", "the dog chased the cat"),
    ("d3", "quantum entanglement defies classical intuition"),
    ("d4", "the mat was red and the cat was black"),
]


def _ref_bm25(corpus, query, k1=1.2, b=0.75):
    """Pure-python BM25 (same whitespace-lowercase tokenizer)."""
    toks = {d: t.lower().split() for d, t in corpus}
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    df = Counter(t for v in toks.values() for t in set(v))
    scores = {}
    for d, v in toks.items():
        tf = Counter(v)
        s = 0.0
        for t in set(query.lower().split()):
            if tf[t] == 0:
                continue
            idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * tf[t] * (k1 + 1) / (tf[t] + k1 * (1 - b + b * len(v) / avgdl))
        if s > 0:
            scores[d] = round(s, 4)
    return scores


def test_scores_match_pure_python_reference(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id string, text string")
    queries = spark.createDataFrame(
        [("q1", "cat mat"), ("q2", "quantum intuition"), ("q3", "the dog")],
        "query_id string, text string",
    )
    got = {
        (r["query_id"], r["doc_id"]): r["score"]
        for r in bm25_topk(queries, docs, k=10).collect()
    }
    for q, qt in [("q1", "cat mat"), ("q2", "quantum intuition"), ("q3", "the dog")]:
        expect = _ref_bm25(CORPUS, qt)
        mine = {d: s for (qq, d), s in got.items() if qq == q}
        assert mine == expect, (q, mine, expect)


def test_rare_terms_outrank_common_terms(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id string, text string")
    queries = spark.createDataFrame(
        [("q", "quantum cat")], "query_id string, text string"
    )
    rows = bm25_topk(queries, docs, k=4).orderBy("rk").collect()
    # 'quantum' (df=1) dominates 'cat' (df=3): d3 must rank first
    assert rows[0]["doc_id"] == "d3"


def test_cross_check_against_duckdb_on_fixture(spark):
    """Same BM25 in DuckDB SQL over the real documents fixture — scores
    must agree to the rounding grain for a multi-term query."""
    import duckdb

    from binance_data_pipeline_spark.catalog import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    qtext = "data pipeline streaming"
    queries = spark.createDataFrame([("q", qtext)], "query_id string, text string")
    got = {
        r["doc_id"]: r["score"] for r in bm25_topk(queries, docs, k=20).collect()
    }

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF}/documents.parquet')"
    )
    oracle = dict(
        con.execute(
            """
            WITH toks AS (
              SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
              FROM documents
            ),
            postings AS (
              SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
            ),
            lens AS (SELECT doc_id, sum(tf) AS doclen FROM postings GROUP BY doc_id),
            stats AS (SELECT count(*) AS n, avg(doclen) AS avgdl FROM lens),
            dfs AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
            q AS (SELECT unnest(string_split(?, ' ')) AS term)
            SELECT p.doc_id,
                   round(sum(ln(1 + (s.n - d.df + 0.5)/(d.df + 0.5))
                       * p.tf * 2.2 / (p.tf + 1.2*(1 - 0.75 + 0.75*l.doclen/s.avgdl))), 4)
            FROM postings p
            JOIN q USING (term)
            JOIN dfs d USING (term)
            JOIN lens l USING (doc_id)
            CROSS JOIN stats s
            GROUP BY p.doc_id
            ORDER BY 2 DESC, doc_id LIMIT 20
            """,
            [qtext],
        ).fetchall()
    )
    assert got, "query matched nothing in the fixture"
    for d, s in got.items():
        assert d in oracle and abs(oracle[d] - s) <= 2e-4, (d, s, oracle.get(d))


def test_persisted_index_build_once_and_pruning(spark, tmp_path):
    docs = spark.createDataFrame(CORPUS, "doc_id string, text string")
    queries = spark.createDataFrame([("q", "cat mat")], "query_id string, text string")
    idx = str(tmp_path / "bm25_index")

    first = {
        (r["query_id"], r["doc_id"], r["rk"])
        for r in bm25_topk(queries, docs, k=3, index_path=idx, n_buckets=16).collect()
    }
    assert os.path.exists(os.path.join(idx, "meta.parquet"))
    assert any(
        p.startswith("tb=") for p in os.listdir(os.path.join(idx, "postings.parquet"))
    )
    mtime = os.path.getmtime(os.path.join(idx, "meta.parquet"))

    again = {
        (r["query_id"], r["doc_id"], r["rk"])
        for r in bm25_topk(queries, docs, k=3, index_path=idx, n_buckets=16).collect()
    }
    assert first == again
    assert os.path.getmtime(os.path.join(idx, "meta.parquet")) == mtime

    # one-shot path agrees with the persisted path
    oneshot = {
        (r["query_id"], r["doc_id"], r["rk"])
        for r in bm25_topk(queries, docs, k=3).collect()
    }
    assert first == oneshot

    # the probe scan carries the bucket partition filter
    plan = bm25_query(spark, idx, queries, k=3)
    assert "PartitionFilters" in plan_text(plan) and "tb" in plan_text(plan)


def test_plan_is_jvm_only(spark):
    docs = spark.createDataFrame(CORPUS, "doc_id string, text string")
    queries = spark.createDataFrame([("q", "cat")], "query_id string, text string")
    plan = bm25_topk(queries, docs, k=3)
    findings = [f for f in audit_plan(plan) if f.code in ("PY_ROW_EVAL", "CARTESIAN")]
    assert findings == [], findings
    text = plan_text(plan)
    assert "ArrowEvalPython" not in text and "BatchEvalPython" not in text
    assert "BroadcastHashJoin" in text


def test_rrf_fusion_hand_computed_and_hybrid_preference(spark):
    from binance_data_pipeline_spark.operators.bm25 import rrf_fuse

    lex = spark.createDataFrame(
        [("q", "d1", 1), ("q", "d2", 2), ("q", "d3", 3)],
        "query_id string, doc_id string, rk long",
    )
    vec = spark.createDataFrame(
        [("q", "d2", 1), ("q", "d4", 2)],
        "query_id string, doc_id string, rk long",
    )
    fused = {r["doc_id"]: (r["rrf_score"], r["rk"]) for r in rrf_fuse([lex, vec], k=60).collect()}
    # hand-computed: d2 = 1/62 + 1/61, d1 = 1/61, d4 = 1/62, d3 = 1/63
    assert abs(fused["d2"][0] - (1 / 62 + 1 / 61)) < 1e-12
    assert abs(fused["d1"][0] - 1 / 61) < 1e-12
    # a doc ranked in BOTH lists beats every single-list doc
    assert fused["d2"][1] == 1
    order = sorted(fused, key=lambda d: fused[d][1])
    assert order == ["d2", "d1", "d4", "d3"]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        rrf_fuse([])
    with _pytest.raises(ValueError):
        rrf_fuse([lex], k=0)


def test_files_per_bucket_salting(spark, tmp_path):
    """files_per_bucket > 1 splits each bucket dir into multiple files
    (the at-scale layout) without changing results."""
    import glob

    from binance_data_pipeline_spark.operators.bm25 import build_bm25_index

    docs = spark.createDataFrame(
        [(f"d{i}", f"term{i % 5} shared common word{i}") for i in range(40)],
        "doc_id string, text string",
    )
    idx = str(tmp_path / "salted")
    build_bm25_index(docs, idx, n_buckets=2, files_per_bucket=3)
    for bucket_dir in glob.glob(os.path.join(idx, "postings.parquet", "tb=*")):
        n_files = len(glob.glob(os.path.join(bucket_dir, "*.parquet")))
        assert 1 <= n_files <= 3

    queries = spark.createDataFrame([("q", "shared common")], "query_id string, text string")
    salted = {
        (r["doc_id"], r["score"]) for r in bm25_query(spark, idx, queries, k=40).collect()
    }
    flat = {
        (r["doc_id"], r["score"]) for r in bm25_topk(queries, docs, k=40).collect()
    }
    assert salted == flat

    import pytest as _pytest

    with _pytest.raises(ValueError, match="files_per_bucket"):
        build_bm25_index(docs, str(tmp_path / "bad"), files_per_bucket=0)


def test_serve_plan_drops_terms_scan_and_pins_exchange_shapes(spark, tmp_path):
    """Round-13 serve-path pins: (a) a localized probe resolves idf from
    the memoized term dictionary, so the serve plan reads ONLY the
    postings table (no terms.parquet scan, one BroadcastExchange); (b)
    the score+rank exchange shape follows the batch size — one
    query_id-only exchange for serve-sized probes, the pre-aggregating
    (query_id, doc) exchange + window exchange for batch scoring
    (VERDICT r12 task 8)."""
    from binance_data_pipeline_spark.operators.bm25 import (
        _cached_term_idf,
        _score_and_rank,
    )

    docs = spark.createDataFrame(CORPUS, "doc_id string, text string")
    queries = spark.createDataFrame([("q", "cat mat")], "query_id string, text string")
    idx = str(tmp_path / "bm25_idx_r13")
    bm25_topk(queries, docs, k=3, index_path=idx, n_buckets=16).collect()

    idf_map = _cached_term_idf(spark, idx)
    assert idf_map is not None and "cat" in idf_map

    text = plan_text(bm25_query(spark, idx, queries, k=3))
    assert "terms.parquet" not in text, text
    assert text.count("BroadcastExchange") == 1, text
    # exactly one shuffle exchange, keyed by query_id alone
    shuffles = [
        l for l in text.splitlines()
        if "hashpartitioning" in l and "Broadcast" not in l
    ]
    assert len(shuffles) == 1 and "query_id" in shuffles[0], text
    assert "doc#" not in shuffles[0].split("hashpartitioning")[1].split(")")[0], text

    # both _score_and_rank shapes, pinned directly
    cand = (
        spark.read.parquet(os.path.join(idx, "postings.parquet"))
        # data-derived query_id: a literal would constant-fold the very
        # exchanges this test pins
        .withColumn("query_id", F.concat(F.lit("q"), (F.col("tf") % 2).cast("string")))
        .withColumn("idf", F.lit(1.0))
        .select("query_id", "doc", "term", "tf", "doclen", "idf")
    )
    serve = plan_text(_score_and_rank(cand, 4, 6.0, 3, 1.2, 0.75, serve_sized=True))
    batch = plan_text(_score_and_rank(cand, 4, 6.0, 3, 1.2, 0.75, serve_sized=False))

    def shuffle_keys(text):
        out = []
        for l in text.splitlines():
            if "hashpartitioning" in l and "Broadcast" not in l:
                inner = l.split("hashpartitioning(")[1]
                out.append(("query_id" in inner, "doc#" in inner.split(", 8")[0]))
        return out

    assert shuffle_keys(serve) == [(True, False)], serve  # one, query_id only
    bkeys = shuffle_keys(batch)
    assert len(bkeys) == 2 and (True, True) in bkeys, batch  # pre-agg + window

    # scoring equality between the two shapes
    a = {(r["query_id"], r["doc_id"], r["score"], r["rk"])
         for r in _score_and_rank(cand, 4, 6.0, 3, 1.2, 0.75, serve_sized=True).collect()}
    b = {(r["query_id"], r["doc_id"], r["score"], r["rk"])
         for r in _score_and_rank(cand, 4, 6.0, 3, 1.2, 0.75, serve_sized=False).collect()}
    assert a == b


def test_memoized_idf_invalidates_on_append(spark, tmp_path):
    """The term-dictionary memo keys on the terms-dir listing: rebuilding
    the index at the same path over a grown corpus rewrites
    terms.parquet, so the NEXT serve call must score with the new df/idf
    (not the stale map)."""
    from binance_data_pipeline_spark.operators.bm25 import (
        _cached_term_idf,
        build_bm25_index,
    )

    docs = spark.createDataFrame(CORPUS, "doc_id string, text string")
    idx = str(tmp_path / "bm25_idx_grown")
    build_bm25_index(docs, idx, n_buckets=8)
    idf_before = _cached_term_idf(spark, idx)["cat"]

    grown = docs.unionByName(spark.createDataFrame(
        [("d5", "another cat appears"), ("d6", "no feline here")],
        "doc_id string, text string",
    ))
    build_bm25_index(grown, idx, n_buckets=8)
    idf_after = _cached_term_idf(spark, idx)["cat"]
    assert idf_after != idf_before  # df 3->4, N 4->6: idf must move

    # and the served score uses the new idf (equal to a fresh ref compute)
    n_docs, df_cat = 6, 4
    expect_idf = math.log(1 + (n_docs - df_cat + 0.5) / (df_cat + 0.5))
    assert abs(idf_after - expect_idf) < 1e-12
