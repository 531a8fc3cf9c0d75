"""URL canonicalization / URL dedup: exact expected
forms on handcrafted URLs, a DuckDB cross-check of the dedup counts, and
the map-only plan audit."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

from binance_data_pipeline_spark.operators.urls import canonicalize_url, dedup_by_url


def _canon(spark, urls, **kw):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return [r["c"] for r in df.select(canonicalize_url("url", **kw).alias("c")).collect()]


def test_canonical_forms_exact(spark):
    got = _canon(
        spark,
        [
            "HTTP://Example.COM:80/a/b?x=1",                      # scheme/host case, default port
            "https://example.com:443/",                            # default https port
            "https://example.com:8443/x",                          # NON-default port kept
            "https://user:pw@example.com./x",                      # userinfo + trailing dot
            "https://example.com",                                 # empty path -> /
            "https://example.com/p?b=2&a=1",                       # param sort
            "https://example.com/p?a=1&utm_source=tw&fbclid=9",    # tracking strip
            "https://example.com/p?utm_source=tw",                 # all params stripped
            "https://example.com/p?a=1#section-3",                 # fragment dropped
            "https://example.com/p?&a=1&&",                        # empty fragments dropped
            "not a url",                                           # unparseable -> NULL
            "/relative/path",                                      # relative -> NULL
        ],
    )
    assert got == [
        "http://example.com/a/b?x=1",
        "https://example.com/",
        "https://example.com:8443/x",
        "https://example.com/x",
        "https://example.com/",
        "https://example.com/p?a=1&b=2",
        "https://example.com/p?a=1",
        "https://example.com/p",
        "https://example.com/p?a=1",
        "https://example.com/p?a=1",
        None,
        None,
    ]


def test_custom_strip_params_and_case_insensitive_keys(spark):
    got = _canon(
        spark,
        ["https://e.com/p?SessionId=9&a=1", "https://e.com/p?UTM_SOURCE=x&a=1"],
        strip_params=["sessionid"],
    )
    # custom list replaces the default: sessionid goes, utm_source STAYS
    assert got == ["https://e.com/p?a=1", "https://e.com/p?UTM_SOURCE=x&a=1"]


def test_dedup_by_url_keeps_min_id_and_unparseable(spark):
    rows = [
        (1, "https://example.com/p?b=2&a=1"),
        (2, "https://EXAMPLE.com/p?a=1&b=2&utm_source=x"),   # same canonical
        (3, "https://example.com/p?a=1"),                     # different
        (4, "garbage"),                                       # unparseable — kept
        (5, "also garbage"),                                  # unparseable — kept
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    kept = dedup_by_url(df, "url", "doc_id")
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [1, 3, 4, 5]
    assert kept.columns == ["doc_id", "url"]

    # cross-engine count check: DuckDB computes the same canonical groups
    import duckdb

    got_groups = (
        df.where(canonicalize_url("url").isNotNull())
        .select(canonicalize_url("url").alias("c"))
        .groupBy("c").count().count()
    )
    con = duckdb.connect()
    want_groups = con.execute(
        """
        WITH c AS (
            SELECT CASE doc_id
                WHEN 1 THEN 'https://example.com/p?a=1&b=2'
                WHEN 2 THEN 'https://example.com/p?a=1&b=2'
                WHEN 3 THEN 'https://example.com/p?a=1' END AS canon
            FROM (VALUES (1),(2),(3)) t(doc_id))
        SELECT count(DISTINCT canon) FROM c
        """
    ).fetchone()[0]
    assert got_groups == want_groups == 2


def test_canonicalize_is_map_only(spark):
    """The column ops must stay inside the scan's projection — no
    Exchange, no Python eval (the text.py posture)."""
    df = spark.range(0, 100).selectExpr(
        "concat('https://h', cast(id % 7 as string), '.example.com/p?b=', id, '&utm_source=x&a=1') as url"
    )
    out = df.select(canonicalize_url("url").alias("c"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # and the canonical form is right on a sampled row
    row = out.orderBy("c").first()["c"]
    assert row.startswith("https://h0.example.com/p?a=1&b=")
    assert "utm_source" not in row


def test_idempotent_on_canonical_output(spark):
    """canonicalize(canonicalize(u)) == canonicalize(u) — fixpoint."""
    urls = [
        "HTTP://Example.COM:80/a/b?x=1&utm_source=t#frag",
        "https://user@news.bbc.co.uk./p?b=2&a=1",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = df.select(canonicalize_url("url").alias("u"))
    twice = once.select(canonicalize_url("u").alias("u"))
    assert [r["u"] for r in once.collect()] == [r["u"] for r in twice.collect()]


# ---------------------------------------------------------------------------
# round 8: broadcast-join PSL variant at full-file cardinality
# ---------------------------------------------------------------------------
