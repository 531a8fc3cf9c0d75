"""Property-based tests (hypothesis): parser robustness on arbitrary
bytes, dedup/incremental invariants under random batch splits. Spark jobs
are expensive per-example, so examples are kept few and batched."""

from __future__ import annotations

import json
import sys

sys.path.insert(0, "/root/repo")

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from binance_data_pipeline_spark.operators.cleaning import bronze_to_staging, raw_to_bronze
from binance_data_pipeline_spark.operators.incremental import build_fact_increment
from binance_data_pipeline_spark.sources.json_envelope import parse_envelope

import fixtures as FX


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.text(max_size=50),  # garbage
            st.builds(
                lambda i, p: json.dumps(
                    {"stream": "x@trade", "data": {"e": "trade", "E": 1718000000000 + i,
                     "s": "BTCUSDT", "t": i, "p": p, "q": "1.0", "T": 1718000000000,
                     "m": True, "M": False}}
                ),
                st.integers(min_value=0, max_value=10**6),
                st.text(max_size=10),  # arbitrary price strings
            ),
        ),
        min_size=0,
        max_size=30,
    )
)
def test_parse_envelope_never_throws(spark, messages):
    """Arbitrary input: parser must not raise, must only emit trade rows,
    and count(valid) <= count(input)."""
    if not messages:
        return
    df = spark.createDataFrame([(m,) for m in messages], "value string")
    out = parse_envelope(df)
    rows = out.collect()
    assert len(rows) <= len(messages)
    assert all(r["event_type"] == "trade" for r in rows)
    # downstream cleaning also robust (arbitrary price strings → null, not error)
    staged = bronze_to_staging(raw_to_bronze(out))
    staged.collect()


def test_incremental_split_invariance(spark):
    """Processing a batch whole vs in two time-ordered halves yields the
    same fact row-set (determinism of the HWM + dedup pipeline)."""
    wire = spark.createDataFrame(FX.bronze_rows(n=400))
    stg = bronze_to_staging(raw_to_bronze(wire))

    whole = build_fact_increment(stg, hwm=None).select("trade_id").collect()

    mid = stg.agg(F.expr("percentile(unix_millis(event_time), 0.5)")).first()[0]
    first = stg.where(F.unix_millis("event_time") <= mid)
    second = stg.where(F.unix_millis("event_time") > mid)
    hwm1 = first.agg(F.max("event_time")).first()[0]
    part1 = build_fact_increment(first, hwm=None).select("trade_id").collect()
    part2 = build_fact_increment(second, hwm=hwm1).select("trade_id").collect()

    whole_ids = sorted(r["trade_id"] for r in whole)
    split_ids = sorted(r["trade_id"] for r in part1 + part2)
    # keys that straddle the split (dupes across halves) may appear twice in
    # the split run — exactly the reference's semantics (dedup is per-run;
    # cross-run dupes rely on the HWM filter). Compare distinct key sets.
    assert sorted(set(whole_ids)) == sorted(set(split_ids))


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=40,
    )
)
def test_cluster_pairs_matches_union_find(spark, edges):
    """Connected components via min-label propagation must agree with a
    plain union-find on arbitrary random edge lists (cluster id = smallest
    node id in the component)."""
    from binance_data_pipeline_spark.operators.dedup import cluster_pairs

    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "id_a INT, id_b INT"
    )
    got = {r["id"]: r["cluster_id"] for r in cluster_pairs(pairs).collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {x: find(x) for x in parent}
    assert got == want


def test_simhash_matches_vote_agg(spark):
    """The Arrow-batched popcount kernel must produce BIT-IDENTICAL
    signatures to the explode + 64 per-bit vote-aggregate formulation it
    replaced (same JVM xxhash64 token hashes, same votes>0 rule, same
    signed-64 fold), including sign-bit docs and multi-occurrence tokens."""
    from binance_data_pipeline_spark.operators.dedup import with_simhash
    from binance_data_pipeline_spark.operators.text import tokens

    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different content with unusual vocabulary"),
        (4, "a"),                      # single token: sig == its hash bits
        (5, ""),                       # empty text → one "" token (split semantics)
        (6, "x " * 500),               # one token repeated: votes never tie
        (7, "päivää 東京 emoji 🚀 mixed unicode tokens"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    got = {r["id"]: r["simhash"] for r in with_simhash(df).collect()}

    # reference: the old vote-agg formulation, inlined
    tok = df.select(F.col("doc_id").alias("id"), F.explode(tokens("text")).alias("t"))
    tok = tok.select("id", F.xxhash64("t").alias("h"))
    votes = tok.groupBy("id").agg(
        *[
            F.sum(F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)).alias(f"v{i}")
            for i in range(64)
        ]
    )
    sig = F.lit(0).cast("long")
    for i in range(64):
        bit_val = F.lit(-(1 << 63) if i == 63 else (1 << i)).cast("long")
        sig = sig.bitwiseXOR(F.when(F.col(f"v{i}") > 0, bit_val).otherwise(F.lit(0).cast("long")))
    want = {r["id"]: r["sig"] for r in votes.select("id", sig.alias("sig")).collect()}

    assert set(got) == set(want) == {1, 2, 3, 4, 5, 6, 7}
    assert got == want

    # map-only: the new form must plan NO exchange before the signature
    plan = with_simhash(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_cluster_pairs_warns_on_non_convergence(spark):
    """Exhausting max_iter before the label fixpoint must emit a
    RuntimeWarning (split components corrupt the dedup audit trail
    silently otherwise); a converged run must NOT warn."""
    import warnings

    from binance_data_pipeline_spark.operators.dedup import cluster_pairs

    # a path graph long enough that 1 iteration cannot converge
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        cluster_pairs(pairs, max_iter=1).collect()
    assert any("did not converge" in str(w.message) for w in caught), caught

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        labels = cluster_pairs(pairs, max_iter=15).collect()
    assert not any("did not converge" in str(w.message) for w in caught)
    assert {r["cluster_id"] for r in labels} == {0}  # one component, min id


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.lists(st.text(alphabet="abcdefg", min_size=1, max_size=6), min_size=1, max_size=60)
        .map(" ".join),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=2, max_value=12),
    st.integers(min_value=0, max_value=8),
)
def test_chunking_reconstruction_property(spark, texts, chunk_tokens, overlap):
    """For ANY corpus and any (chunk, overlap) with overlap < chunk:
    dropping the first `overlap` tokens of every chunk after the first
    reconstructs each doc's exact token stream, every chunk except
    possibly the last per doc is full-size, and no chunk exceeds the
    window."""
    from binance_data_pipeline_spark.operators.text import chunk_documents

    if overlap >= chunk_tokens:
        overlap = chunk_tokens - 1
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    rows = chunk_documents(
        df, chunk_tokens=chunk_tokens, overlap_tokens=overlap
    ).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["id"], []).append((r["chunk_idx"], r["chunk_text"], r["n_tokens"]))
    assert set(by_doc) == set(range(len(texts)))
    for i, text in enumerate(texts):
        cs = sorted(by_doc[i])
        assert all(n <= chunk_tokens for _, _, n in cs)
        assert all(n == chunk_tokens for _, _, n in cs[:-1])  # only last may be short
        toks = cs[0][1].split()
        for _, t, _ in cs[1:]:
            toks += t.split()[overlap:]
        assert toks == text.lower().split()
