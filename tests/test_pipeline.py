"""End-to-end pipeline tests: envelope parse → bronze → staging →
incremental fact → revenue fact, with the reference's exact edge semantics
(malformed drop, coerce-to-null, late-data drop, unique_key dedup)."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

from datetime import date

import pytest
from pyspark.sql import functions as F

from binance_data_pipeline_spark.operators.cleaning import (
    bronze_to_staging,
    raw_to_bronze,
    staging_schema_check,
)
from binance_data_pipeline_spark.operators.incremental import incremental_append
from binance_data_pipeline_spark.operators.revenue import build_fact_fee_tax, run as revenue_run
from binance_data_pipeline_spark.quality import run_checks, trade_table_checks, unique
from binance_data_pipeline_spark.sources.csv_rules import rules_from_rows
from binance_data_pipeline_spark.sources.json_envelope import parse_envelope, to_kafka_payload

import fixtures as FX


@pytest.fixture(scope="module")
def raw_df(spark):
    return spark.createDataFrame([(v,) for v in FX.raw_ws_messages()], "value string")


@pytest.fixture(scope="module")
def bronze_df(spark):
    wire = spark.createDataFrame(FX.bronze_rows())
    return raw_to_bronze(wire)


def test_envelope_parse_drops_noise(spark, raw_df):
    flat = parse_envelope(raw_df)
    assert flat.count() == FX.expected_trade_count()
    # missing fields arrive as nulls, not errors
    assert flat.where(F.col("quantity").isNull()).count() > 0
    # all rows are trade events
    assert flat.where(F.col("event_type") != "trade").count() == 0


def test_kafka_payload_roundtrip(spark, raw_df):
    flat = parse_envelope(raw_df)
    payload = to_kafka_payload(flat)
    assert payload.columns == ["key", "value"]
    # key is the symbol; value round-trips through from_json
    row = payload.first()
    assert row["key"] in ("BTCUSDT", "ETHUSDT", "BNBUSDT")
    assert '"event_type":"trade"' in row["value"]


def test_raw_to_bronze_partition_cols(bronze_df):
    # per-row partition derivation: event_date/hour match event_time per row
    bad = bronze_df.where(
        (F.to_date("event_time") != F.col("event_date"))
        | (F.lpad(F.hour("event_time").cast("string"), 2, "0") != F.col("hour"))
    )
    assert bad.count() == 0


def test_staging_coerce_to_null(bronze_df):
    stg = bronze_to_staging(bronze_df)
    staging_schema_check(stg)
    # "n/a" prices → null doubles, not errors (pandas to_numeric parity)
    assert stg.where(F.col("price").isNull()).count() == 10
    assert dict(stg.dtypes)["price"] == "double"


def test_quality_checks_flag_dupes(bronze_df):
    results = run_checks(trade_table_checks(bronze_df))
    by_name = {r.name: r for r in results}
    assert not by_name["trade_id_unique"].passed  # fixture has dupes
    assert by_name["trade_id_not_null"].passed


def test_declarative_suite_yaml_roundtrip(bronze_df):
    """GE-style declarative suite: YAML → compile → run. Violations and
    passes land exactly where the imperative checks put them, and typos
    fail at compile time instead of silently skipping."""
    import pytest

    from binance_data_pipeline_spark.quality import run_suite, suite_from_yaml

    suite = suite_from_yaml(
        """
        columns:
          trade_id: [unique, not_null]
          price:    [{accepted_range: {lo: 0}}]
          symbol:   [{accepted_values: {values: [BTCUSDT, ETHUSDT, BNBUSDT]}}]
        row_count: {min: 1}
        """
    )
    # suites run on TYPED tables (staging), like the reference's dbt tests:
    # range checks on a raw string column would be a schema bug, not a
    # quality result
    typed = bronze_to_staging(bronze_df)
    by_name = {r.name: r for r in run_suite(typed, suite)}
    assert set(by_name) == {
        "trade_id_unique", "trade_id_not_null", "price_accepted_range",
        "symbol_accepted_values", "row_count",
    }
    assert not by_name["trade_id_unique"].passed   # fixture plants dupes
    assert by_name["trade_id_not_null"].passed
    assert by_name["symbol_accepted_values"].passed
    assert by_name["row_count"].passed

    with pytest.raises(ValueError, match="unknown expectation"):
        run_suite(typed, {"columns": {"trade_id": ["uniqe"]}})
    with pytest.raises(AssertionError, match="row_count"):
        run_suite(typed, {"row_count": {"min": 10**9}}, fail_fast=True)


def test_incremental_semantics(spark, bronze_df, tmp_path):
    fact_path = str(tmp_path / "fact_trades")
    stg = bronze_to_staging(bronze_df)

    # first run: full load, dupes collapsed
    n1 = incremental_append(spark, stg, fact_path)
    fact = spark.read.parquet(fact_path)
    assert n1 == fact.count()
    assert unique(fact, "trade_id").count() == 0  # unique_key dedup held

    # re-run with identical input: idempotent (everything <= hwm)
    n2 = incremental_append(spark, stg, fact_path)
    assert n2 == 0

    # late row below the watermark: silently dropped (reference parity)
    hwm_row = stg.agg(F.max("event_time").alias("m")).first()["m"]
    late = spark.createDataFrame(
        [("999999", "BTCUSDT", 1.0, 1.0)],
        "trade_id string, symbol string, price double, quantity double",
    ).select(
        "trade_id", "symbol", "price", "quantity",
        F.lit(hwm_row - F.expr("INTERVAL 10 DAYS")).cast("timestamp").alias("event_time"),
        F.to_date(F.lit("2024-06-01")).alias("event_date"),
    )
    n3 = incremental_append(spark, late, fact_path)
    assert n3 == 0  # dropped: documented late-data semantics (P8/ST5)

    # keep-policy variant: the late row lands exactly once
    n4 = incremental_append(spark, late, fact_path, late_policy="keep")
    assert n4 == 1
    n5 = incremental_append(spark, late, fact_path, late_policy="keep")
    assert n5 == 0  # anti-join against existing keys

    # total_notional_usd = price * quantity
    f = spark.read.parquet(fact_path)
    bad = f.where(
        F.abs(F.col("total_notional_usd") - F.col("price") * F.col("quantity")) > 1e-9
    )
    assert bad.count() == 0


def test_revenue_fact(spark, bronze_df, tmp_path):
    stg = bronze_to_staging(bronze_df).where(F.col("price").isNotNull())
    silver = (
        stg.groupBy("event_date", "symbol")
        .agg(F.sum(F.col("price") * F.col("quantity")).alias("traded_notional"))
    )
    rules = rules_from_rows(spark, FX.RULES_ROWS)
    some_date = silver.select("event_date").orderBy("event_date").first()["event_date"]

    fact = revenue_run(silver, rules, some_date, str(tmp_path / "fee_tax"))
    rows = {r["symbol"]: r for r in fact.collect()}

    # one row per symbol that traded that date
    assert set(rows) <= {"BTCUSDT", "ETHUSDT", "BNBUSDT"}
    # unmatched symbol gets defaults (J1 left-join null path)
    if "BNBUSDT" in rows:
        r = rows["BNBUSDT"]
        assert r["region"] == "EU" and r["fee_rate_bps"] == 0.0 and r["total_revenue"] == 0.0
    # fee arithmetic: notional * bps / 10000 (reference-parity names:
    # fee_revenue / tax_collected, build_fact_fee_tax.py:62-63)
    r = rows["BTCUSDT"]
    assert abs(r["fee_revenue"] - r["traded_notional"] * 7.5 / 10000.0) < 1e-9
    assert abs(r["total_revenue"] - (r["fee_revenue"] + r["tax_collected"])) < 1e-12
    # reference output columns are a strict prefix of ours (schema parity)
    assert fact.columns[:6] == [
        "event_date", "symbol", "region", "traded_notional", "fee_revenue", "tax_collected",
    ]
    # output written and partitioned
    out = spark.read.parquet(str(tmp_path / "fee_tax"))
    assert out.count() == fact.count()


def test_build_fact_fee_tax_matches_duckdb(spark, bronze_df):
    """Golden check of the §3.4 math against duckdb on the same slice."""
    import duckdb

    stg = bronze_to_staging(bronze_df).where(F.col("price").isNotNull())
    silver = (
        stg.groupBy("event_date", "symbol")
        .agg(F.round(F.sum(F.col("price") * F.col("quantity")), 6).alias("traded_notional"))
    )
    rules = rules_from_rows(spark, FX.RULES_ROWS)
    fact = build_fact_fee_tax(silver, rules).toPandas()

    sil = silver.toPandas()
    con = duckdb.connect()
    con.register("silver", sil)
    oracle = con.sql(
        """
        WITH rules(symbol, region, fee_rate_bps, tax_rate_bps) AS (
            VALUES ('BTCUSDT','US',7.5,2.0), ('ETHUSDT','EU',5.0,1.0)
        )
        SELECT s.event_date, s.symbol,
               coalesce(r.region, 'EU') AS region,
               sum(s.traded_notional) AS traded_notional,
               coalesce(r.fee_rate_bps, 0.0) AS fee_rate_bps,
               coalesce(r.tax_rate_bps, 0.0) AS tax_rate_bps
        FROM silver s LEFT JOIN rules r USING (symbol)
        GROUP BY 1, 2, 3, 5, 6
        """
    ).df()
    a = fact.sort_values(["event_date", "symbol"], ignore_index=True)
    b = oracle.sort_values(["event_date", "symbol"], ignore_index=True)
    assert len(a) == len(b)
    assert (a["region"].values == b["region"].values).all()
    assert (abs(a["traded_notional"].values - b["traded_notional"].values) < 1e-6).all()


def test_daily_backfill_job_idempotent(spark, tmp_path):
    """The daily DAG equivalent: run twice with the same logical date — the
    second run must append nothing (HWM + unique_key dedup, ST5)."""
    from datetime import date

    from binance_data_pipeline_spark.jobs import daily_backfill_and_transform
    from binance_data_pipeline_spark.sources.rest_backfill import fake_fetcher_from_events

    bronze = str(tmp_path / "bronze")
    fact = str(tmp_path / "fact")
    fetcher = fake_fetcher_from_events(rows_per_cell=40)

    r1 = daily_backfill_and_transform(
        spark, date(2024, 6, 10), ["BTCUSDT", "ETHUSDT"], fetcher, bronze, fact
    )
    assert r1.rows_ingested == 6 * 40
    assert r1.rows_appended > 0
    assert r1.ok, [c.name for c in r1.checks if not c.passed]

    # identical re-run: bronze doubles (append) but the fact is unchanged
    r2 = daily_backfill_and_transform(
        spark, date(2024, 6, 10), ["BTCUSDT", "ETHUSDT"], fetcher, bronze, fact
    )
    assert r2.rows_appended == 0
    assert r2.ok
    n_fact = spark.read.parquet(fact).count()
    assert n_fact == r1.rows_appended


def test_run_with_retries_flaky_job_recovers():
    """Reference parity: every Airflow DAG runs with retries=1 /
    retry_delay=5min (airflow/dags/binance_dbt_dag.py:11-12). A job whose
    first attempt raises must succeed on the retry, honoring the delay via
    the injected sleep (no wall-clock wait)."""
    from binance_data_pipeline_spark.jobs import run_with_retries

    calls = {"n": 0}
    slept: list[float] = []

    def flaky():
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient: connection reset")
        return "report"

    out = run_with_retries(flaky, retries=1, retry_delay_s=300.0, sleep=slept.append)
    assert out == "report"
    assert calls["n"] == 2
    assert slept == [300.0]


def test_run_with_retries_exhausted_reraises():
    """Retries exhausted → the last exception propagates (Airflow marks the
    task failed after its final retry)."""
    import pytest as _pytest

    from binance_data_pipeline_spark.jobs import run_with_retries

    calls = {"n": 0}

    def always_fails():
        calls["n"] += 1
        raise ValueError("permanent")

    with _pytest.raises(ValueError, match="permanent"):
        run_with_retries(always_fails, retries=2, retry_delay_s=1.0, sleep=lambda _: None)
    assert calls["n"] == 3  # initial + 2 retries


def test_kafka_roundtrip_closes_loop(spark, raw_df):
    """envelope → to_kafka_payload → parse_flat_record must equal the
    direct parse (the producer→Kafka→bronze-consumer loop, §3.1)."""
    from binance_data_pipeline_spark.sources.json_envelope import parse_flat_record

    direct = parse_envelope(raw_df)
    via_kafka = parse_flat_record(
        to_kafka_payload(direct).select(F.col("value"))
    )
    a = sorted(direct.select("trade_id", "symbol", "price", "event_time").collect())
    b = sorted(via_kafka.select("trade_id", "symbol", "price", "event_time").collect())
    assert a == b


def test_merge_upsert_updates_matched_keys(spark, tmp_path):
    """MERGE semantics: a re-sent key with newer data replaces the old row;
    untouched partitions stay intact."""
    from binance_data_pipeline_spark.operators.incremental import merge_upsert

    path = str(tmp_path / "merge_fact")
    base = spark.createDataFrame(
        [
            ("t1", "BTCUSDT", 100.0, "2024-06-10 10:00:00", "2024-06-10"),
            ("t2", "ETHUSDT", 200.0, "2024-06-10 11:00:00", "2024-06-10"),
            ("t3", "BTCUSDT", 300.0, "2024-06-11 10:00:00", "2024-06-11"),
        ],
        "trade_id string, symbol string, price double, event_time string, event_date string",
    ).select(
        "trade_id", "symbol", "price",
        F.col("event_time").cast("timestamp").alias("event_time"),
        F.col("event_date").cast("date").alias("event_date"),
    )
    merge_upsert(spark, base, path)
    assert spark.read.parquet(path).count() == 3

    # update t1 (same key, newer ts, new price); add t4; day 2024-06-11 untouched
    upd = spark.createDataFrame(
        [
            ("t1", "BTCUSDT", 150.0, "2024-06-10 12:00:00", "2024-06-10"),
            ("t4", "BNBUSDT", 50.0, "2024-06-10 13:00:00", "2024-06-10"),
        ],
        "trade_id string, symbol string, price double, event_time string, event_date string",
    ).select(
        "trade_id", "symbol", "price",
        F.col("event_time").cast("timestamp").alias("event_time"),
        F.col("event_date").cast("date").alias("event_date"),
    )
    merge_upsert(spark, upd, path)
    rows = {r["trade_id"]: r for r in spark.read.parquet(path).collect()}
    assert len(rows) == 4
    assert rows["t1"]["price"] == 150.0  # replaced, not duplicated
    assert rows["t3"]["price"] == 300.0  # untouched partition preserved


def test_build_training_corpus_end_to_end(spark, tmp_path):
    """The full corpus DAG: redact → quality-filter → dedup → sample →
    chunk → deterministic shuffle → write, with per-stage counts and the
    audit mapping. Redaction runs BEFORE fingerprinting, so two docs
    differing only in an email address dedupe as exact duplicates."""
    from binance_data_pipeline_spark.jobs import build_training_corpus

    body = (
        "a long enough document about distributed columnar engines and the "
        "shuffle exchanges their joins schedule across executor partitions"
    )
    rows = [
        (1, body + " reach me at alice@example.com", "en"),
        (2, body + " reach me at bob@other.org", "en"),     # dup after redaction
        (3, body.replace("columnar", "vectorized") + " plus drift", "en"),  # near-dup of 1
        (4, "short junk!!", "en"),                          # fails quality
        (5, "ein ausreichend langes deutsches dokument über verteilte "
            "spaltenorientierte engines und deren partitionierte joins "
            "innerhalb der executor knoten", "de"),
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(src)

    out = str(tmp_path / "corpus")
    counts = build_training_corpus(
        spark, src, out,
        min_quality=0.5, dedup_threshold=0.5,
        chunk_tokens=12, overlap_tokens=2, shuffle_seed=1,
    )
    assert counts["input"] == 5
    assert counts["after_quality"] == 4          # junk dropped
    assert counts["after_dedup"] == 2            # 1 keeps; 2 exact-dup, 3 near-dup
    assert counts["exported"] >= 2               # chunked rows

    mapping = {r["doc_id"]: (r["kept_doc_id"], r["reason"]) for r in
               spark.read.parquet(f"{out}/mapping.parquet").collect()}
    assert mapping[2] == (1, "exact_dup")        # only difference was redacted PII
    assert mapping[3] == (1, "near_dup")
    assert mapping[5] == (5, "kept")

    corpus = spark.read.parquet(f"{out}/corpus.parquet").collect()
    assert all("<EMAIL>" in r["chunk_text"] or "@" not in r["chunk_text"] for r in corpus)
    assert {r["doc_id"] for r in corpus} == {1, 5}
    stats = spark.read.parquet(f"{out}/stats.parquet").first()
    assert stats["after_dedup"] == 2

    # determinism: the same seed re-exports the identical chunk order
    out2 = str(tmp_path / "corpus2")
    build_training_corpus(
        spark, src, out2,
        min_quality=0.5, dedup_threshold=0.5,
        chunk_tokens=12, overlap_tokens=2, shuffle_seed=1,
    )
    a = [r["chunk_text"] for r in spark.read.parquet(f"{out}/corpus.parquet").collect()]
    b = [r["chunk_text"] for r in spark.read.parquet(f"{out2}/corpus.parquet").collect()]
    assert a == b


def test_build_training_corpus_url_stage(spark, tmp_path):
    """``url_col`` cuts canonical-URL re-crawls BEFORE any content pass:
    two crawls of the same page (tracking params / host case differ)
    collapse to the min-id row even when their text differs slightly."""
    from binance_data_pipeline_spark.jobs import build_training_corpus

    body = (
        "a long enough document about distributed columnar engines and the "
        "shuffle exchanges their joins schedule across executor partitions"
    )
    rows = [
        (1, body, "en", "https://example.com/p?b=2&a=1"),
        (2, body + " recrawled later", "en",
         "https://EXAMPLE.com/p?a=1&b=2&utm_source=tw"),   # same canonical URL
        (3, body.replace("columnar", "sparse") + " other page", "en",
         "https://example.com/q"),
        (4, body.replace("engines", "planners") + " unparseable", "en", "not a url"),
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, url string"
    ).write.parquet(src)

    out = str(tmp_path / "corpus")
    counts = build_training_corpus(
        spark, src, out, min_quality=0.0, dedup_threshold=0.99, url_col="url"
    )
    assert counts["input"] == 4
    assert counts["after_url_dedup"] == 3       # doc 2 is a URL dup of 1
    kept = {r["doc_id"] for r in spark.read.parquet(f"{out}/corpus.parquet").collect()}
    assert kept == {1, 3, 4}                    # 4's bad URL passes through


def test_build_training_corpus_substring_stage(spark, tmp_path):
    """Optional span-level pass: two kept docs sharing a ≥min_len verbatim
    span keep one canonical occurrence; the other doc is rebuilt without
    it (doc count unchanged — span dedup edits, never drops)."""
    from binance_data_pipeline_spark.jobs import build_training_corpus

    span = " ".join(f"clause{i}" for i in range(16))
    rows = [
        (1, f"first document about engines and joins {span}", "en"),
        (2, f"second document on entirely different themes {span}", "en"),
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(src)
    out = str(tmp_path / "corpus")
    counts = build_training_corpus(
        spark, src, out,
        min_quality=0.0, dedup_threshold=0.9, substring_min_len=16,
    )
    assert counts["after_dedup"] == 2
    assert counts["span_tokens_removed"] == 16
    assert counts["exported"] == 2
    texts = {r["doc_id"]: r["text"] for r in
             spark.read.parquet(f"{out}/corpus.parquet").collect()}
    assert "clause0" in texts[1] and "clause0" not in texts[2]
    assert texts[2].startswith("second document on entirely different themes")
    stats = spark.read.parquet(f"{out}/stats.parquet").first()
    assert stats["span_tokens_removed"] == 16


def test_build_training_corpus_decontamination_and_repetition(spark, tmp_path):
    """Optional stages: a doc overlapping a benchmark probe is removed
    after dedup; a degenerate looping doc is cut by the repetition bound."""
    from binance_data_pipeline_spark.jobs import build_training_corpus

    probe = (
        "what is the time complexity of a hash join answer it is linear in "
        "the size of both inputs under uniform key distribution assumptions"
    )
    rows = [
        (1, "a clean unique document about columnar storage layouts and the "
            "row group statistics parquet writers persist for pruning", "en"),
        (2, "leaked benchmark item " + probe + " end of the leaked item", "en"),
        (3, "spam spam " * 40, "en"),     # repetition loop
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(src)
    probes_path = str(tmp_path / "probes.parquet")
    spark.createDataFrame([(900, probe)], "doc_id long, text string").write.parquet(probes_path)

    out = str(tmp_path / "corpus")
    counts = build_training_corpus(
        spark, src, out,
        min_quality=0.3, dedup_threshold=0.5,
        max_repetition=0.5, probes_path=probes_path, max_contamination=0.5,
    )
    assert counts["after_quality"] == 2            # repetition loop cut
    assert counts["after_dedup"] == 2
    assert counts["after_decontamination"] == 1    # leaked doc removed
    kept_ids = {r["doc_id"] for r in spark.read.parquet(f"{out}/corpus.parquet").collect()}
    assert kept_ids == {1}

    # forcing the bloom-prefiltered scan changes nothing but the plan
    out2 = str(tmp_path / "corpus_bloom")
    counts2 = build_training_corpus(
        spark, src, out2,
        min_quality=0.3, dedup_threshold=0.5,
        max_repetition=0.5, probes_path=probes_path, max_contamination=0.5,
        probes_bloom=True,
    )
    assert counts2["after_decontamination"] == 1
    assert {
        r["doc_id"] for r in spark.read.parquet(f"{out2}/corpus.parquet").collect()
    } == {1}


def test_build_training_corpus_domain_rules(spark, tmp_path):
    """Per-domain quality gate inside the DAG: a strict rule for one
    source drops its short docs while the default keeps the same shape
    of doc from other sources."""
    from binance_data_pipeline_spark.jobs import build_training_corpus

    body = (
        "a long enough document about distributed columnar engines and the "
        "shuffle exchanges their joins schedule across executor partitions"
    )
    rows = [
        (1, body, "en", "web"),
        (2, "ten tokens of short but plausible text right here now", "en", "web"),
        (3, "ten tokens of short but plausible text right there now", "en", "books"),
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).write.parquet(src)

    out = str(tmp_path / "corpus")
    counts = build_training_corpus(
        spark, src, out,
        min_quality=0.0, dedup_threshold=0.5,
        domain_rules={"*": {}, "books": {"min_tokens": 15}},
    )
    assert counts["after_quality"] == 2
    kept = {r["doc_id"] for r in spark.read.parquet(f"{out}/corpus.parquet").collect()}
    assert kept == {1, 2}  # the books-domain short doc was gated out


def test_build_training_corpus_semantic_stage(spark, tmp_path):
    """Optional semantic pass: two docs with disjoint text (invisible to
    shingle dedup) but near-identical embeddings collapse to one keeper;
    docs with no embedding row pass through; the audit trail carries the
    semantic_dup reason alongside the text-dedup rows."""
    from binance_data_pipeline_spark.jobs import build_training_corpus

    rows = [
        (1, "a sufficiently long report on columnar execution engines and "
            "the exchange operators their physical plans schedule", "en"),
        (2, "completely different words describing paraphrased content on "
            "vectorized analytical runtimes and their data movement steps", "en"),
        (3, "a third distinct subject entirely, covering alpine weather "
            "fronts and the forecasting models meteorologists calibrate", "en"),
        (4, "an unrelated long document about maritime navigation beacons "
            "and the harbor approach procedures pilots rehearse", "en"),
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(src)
    emb = str(tmp_path / "emb.parquet")
    spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.9999, 0.0141, 0.0, 0.0]),  # semantic twin of 1
            (3, [0.0, 1.0, 0.0, 0.0]),        # own topic, kept
            # doc 4 has no embedding: passes through
        ],
        "vec_id long, embedding array<double>",
    ).write.parquet(emb)

    out = str(tmp_path / "corpus")
    counts = build_training_corpus(
        spark, src, out,
        min_quality=0.3, dedup_threshold=0.5,
        embeddings_path=emb, semantic_threshold=0.97, semantic_k=2,
    )
    assert counts["after_dedup"] == 4            # shingles see no dups
    assert counts["after_semantic_dedup"] == 3   # {1,2} collapsed
    mapping = {r["doc_id"]: (r["kept_doc_id"], r["reason"]) for r in
               spark.read.parquet(f"{out}/mapping.parquet").collect()}
    dropped = [d for d in (1, 2) if mapping[d][1] == "semantic_dup"]
    assert len(dropped) == 1
    kept_of_pair = 3 - dropped[0]  # the other one
    assert mapping[dropped[0]][0] == kept_of_pair
    assert mapping[3] == (3, "kept") and mapping[4] == (4, "kept")
    exported = {r["doc_id"] for r in spark.read.parquet(f"{out}/corpus.parquet").collect()}
    assert exported == {kept_of_pair, 3, 4}


def test_build_training_corpus_lm_gate(spark, tmp_path):
    """Optional CCNet fluency gate: gibberish docs fall at the quality
    stage; fluent docs survive to export."""
    from binance_data_pipeline_spark.jobs import build_training_corpus

    fluent = ("the quick brown fox jumps over the lazy dog and runs along "
              "the river bank toward the quiet village")
    ref_rows = [(i, fluent, "en") for i in range(20)]
    ref = str(tmp_path / "ref.parquet")
    spark.createDataFrame(ref_rows, "doc_id long, text string, lang string").write.parquet(ref)

    rows = [
        (1, fluent + " every morning", "en"),
        (2, "zxqv wfpt blorg qqnnx vrm zzkt plwq xxj koqw mmzt pqlv wwrx", "en"),
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(src)
    out = str(tmp_path / "corpus")
    counts = build_training_corpus(
        spark, src, out,
        min_quality=0.0, dedup_threshold=0.9,
        lm_ref_path=ref, lm_max_cross_entropy=6.0,
    )
    assert counts["after_quality"] == 1
    kept = {r["doc_id"] for r in spark.read.parquet(f"{out}/corpus.parquet").collect()}
    assert kept == {1}


def test_build_training_corpus_classifier_gate(spark, tmp_path):
    """Optional trained-model quality gate: a labeled slice teaches the
    boundary, and junk-vocabulary docs fall at the quality stage."""
    from binance_data_pipeline_spark.jobs import build_training_corpus

    good_txt = "science history theory number water energy music light " * 3
    junk_txt = "zxq wkj vbn qqq xoxo kpd mzt hjkl " * 3
    labeled = [(100 + i, good_txt, "en", 1.0) for i in range(10)] + [
        (200 + i, junk_txt, "en", 0.0) for i in range(10)
    ]
    lab = str(tmp_path / "labeled.parquet")
    spark.createDataFrame(
        labeled, "doc_id long, text string, lang string, label double"
    ).write.parquet(lab)

    rows = [
        (1, good_txt + " galaxy", "en"),
        (2, junk_txt + " zzz", "en"),
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(src)
    out = str(tmp_path / "corpus")
    counts = build_training_corpus(
        spark, src, out,
        min_quality=0.0, dedup_threshold=0.9,
        clf_labeled_path=lab, clf_min_prob=0.5,
        clf_buckets=500, clf_iterations=15,
    )
    assert counts["after_quality"] == 1
    kept = {r["doc_id"] for r in spark.read.parquet(f"{out}/corpus.parquet").collect()}
    assert kept == {1}


def test_build_training_corpus_dsir_stage(spark, tmp_path):
    """DSIR selection: of the surviving unique docs, the k whose n-gram
    distribution matches the target corpus win the Gumbel draw."""
    from binance_data_pipeline_spark.jobs import build_training_corpus

    target_txt = "the quick brown fox jumps over the lazy dog near the river "
    junk_txt = "zxq wkj vbn qqq xoxo kpd mzt hjkl plw qrt "
    tgt = str(tmp_path / "target.parquet")
    spark.createDataFrame(
        [(i, target_txt * 2, "en") for i in range(10)],
        "doc_id long, text string, lang string",
    ).write.parquet(tgt)

    rows = [(i, target_txt + f"variant {i}", "en") for i in range(8)] + [
        (100 + i, junk_txt + f"variant {i}", "en") for i in range(8)
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(src)
    out = str(tmp_path / "corpus")
    counts = build_training_corpus(
        spark, src, out,
        min_quality=0.0, dedup_threshold=0.95,
        dsir_target_path=tgt, dsir_k=6, dsir_buckets=500,
    )
    assert counts["after_dsir"] == 6
    kept = {r["doc_id"] for r in spark.read.parquet(f"{out}/corpus.parquet").collect()}
    assert len(kept) == 6
    # target-like ids are < 100; the junk family loses the draw
    assert all(i < 100 for i in kept), kept

    # dsir_k without a target path is a usage error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="dsir_k"):
        build_training_corpus(
            spark, src, str(tmp_path / "c2"),
            min_quality=0.0, dsir_target_path=tgt,
        )


def test_build_training_corpus_all_stages_enabled(spark, tmp_path):
    """Interaction test: every optional stage on at once — classifier +
    LM gates, repetition, near+semantic+substring dedup, decontamination,
    DSIR selection, chunking, shuffle. Pins that stage plumbing composes
    (column collisions, id dtype drift, stage-order assumptions)."""
    from binance_data_pipeline_spark.jobs import build_training_corpus

    fluent = ("the quick brown fox jumps over the lazy dog and runs along "
              "the river bank toward the quiet village every morning")
    junkv = "zxq wkj vbn qqq xoxo kpd mzt hjkl plw qrt"

    ref = str(tmp_path / "ref.parquet")
    spark.createDataFrame(
        [(1000 + i, fluent, "en") for i in range(10)],
        "doc_id long, text string, lang string",
    ).write.parquet(ref)

    lab = str(tmp_path / "labeled.parquet")
    spark.createDataFrame(
        [(2000 + i, fluent + f" variant {i}", "en", 1.0) for i in range(8)]
        + [(3000 + i, junkv + f" {i}", "en", 0.0) for i in range(8)],
        "doc_id long, text string, lang string, label double",
    ).write.parquet(lab)

    tgt = str(tmp_path / "target.parquet")
    spark.createDataFrame(
        [(4000 + i, fluent, "en") for i in range(6)],
        "doc_id long, text string, lang string",
    ).write.parquet(tgt)

    probes = str(tmp_path / "probes.parquet")
    benchmark_text = ("name the seven wonders of the ancient world in order "
                      "of construction date for the quiz")
    spark.createDataFrame(
        [(9000, benchmark_text, "en")], "doc_id long, text string, lang string"
    ).write.parquet(probes)

    fluent_b = ("the lazy dog runs along the quiet river and the quick fox "
                "jumps toward the village bank every morning over the brown grass")
    fluent_c = ("every morning the village runs quiet and the river bank sees "
                "the brown dog jump over the lazy fox toward the quick water")
    rows = [
        (1, fluent + " one", "en"),
        (2, fluent + " one", "en"),                  # exact dup of 1
        (3, fluent_b, "en"),                         # same vocab, new order
        (4, junkv + " zz", "en"),                    # classifier/LM casualty
        (5, benchmark_text + " " + fluent, "en"),    # contaminated
        (6, fluent_c, "en"),
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(src)

    emb = str(tmp_path / "emb.parquet")
    # 1/2/3 share a direction (but only 2 is an exact dup; 3 stays under
    # the 0.995 ceiling), 5/6 distinct
    spark.createDataFrame(
        [(1, [1.0, 0.0, 0.1]), (2, [1.0, 0.0, 0.1]), (3, [0.9, 0.3, 0.1]),
         (5, [0.0, 1.0, 0.0]), (6, [0.1, 0.0, 1.0])],
        "vec_id long, embedding array<double>",
    ).write.parquet(emb)

    out = str(tmp_path / "corpus")
    counts = build_training_corpus(
        spark, src, out,
        min_quality=0.0,
        dedup_threshold=0.9,
        max_repetition=0.9,
        lm_ref_path=ref, lm_max_cross_entropy=6.0,
        clf_labeled_path=lab, clf_min_prob=0.5, clf_buckets=400, clf_iterations=12,
        probes_path=probes, max_contamination=0.3,
        embeddings_path=emb, semantic_threshold=0.995,
        substring_min_len=40,
        dsir_target_path=tgt, dsir_k=3, dsir_buckets=400,
        chunk_tokens=12, overlap_tokens=2,
        shuffle_seed=7,
    )
    # stage accounting: 6 in; junk falls at quality; dup falls at dedup;
    # contaminated falls at decontamination; DSIR keeps 3 of the 3 left
    assert counts["input"] == 6
    assert counts["after_quality"] == 5
    assert counts["after_dedup"] == 4
    assert counts["after_decontamination"] == 3
    assert counts["after_dsir"] == 3
    assert counts["exported"] > 3  # chunked rows

    kept_docs = {
        r["doc_id"].split("#")[0] if isinstance(r["doc_id"], str) else r["doc_id"]
        for r in spark.read.parquet(f"{out}/corpus.parquet").collect()
    }
    assert kept_docs == {1, 3, 6}  # junk, dup, contaminated all gone
    mapping = {r["doc_id"]: r["reason"] for r in spark.read.parquet(f"{out}/mapping.parquet").collect()}
    assert 2 in mapping  # the exact dup is in the audit trail


def test_build_training_corpus_inflight_embeddings(spark, tmp_path):
    """embed_dim with no embeddings_path: the semantic pass runs on
    hash embeddings generated in-flight from the kept docs' text — a
    one-token paraphrase (invisible to shingle dedup: one changed token
    kills a whole window of shingles) collapses semantically, with no
    external embedding table."""
    from binance_data_pipeline_spark.jobs import build_training_corpus
    from binance_data_pipeline_spark.operators.embedder import hash_encoder

    base = ("a sufficiently long technical report covering columnar "
            "execution engines their exchange operators and the physical "
            "plans schedulers build for analytical queries")
    twin = base.replace("analytical", "interactive")  # one token differs
    rows = [
        (1, base, "en"),
        (2, twin, "en"),
        (3, "a third distinct subject entirely, covering alpine weather "
            "fronts and the forecasting models meteorologists calibrate", "en"),
    ]
    # precondition: the default hash embedding really does see the twin
    import numpy as np

    v = hash_encoder(256)([base, twin, rows[2][1]])
    assert float(v[0] @ v[1]) > 0.85 > float(v[0] @ v[2])

    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(src)
    out = str(tmp_path / "corpus")
    counts = build_training_corpus(
        spark, src, out,
        min_quality=0.3, dedup_threshold=0.85,
        embed_dim=256, semantic_threshold=0.85, semantic_k=2,
    )
    assert counts["after_dedup"] == 3            # shingles keep both twins
    assert counts["after_semantic_dedup"] == 2   # {1,2} collapsed in-flight
    mapping = {r["doc_id"]: (r["kept_doc_id"], r["reason"]) for r in
               spark.read.parquet(f"{out}/mapping.parquet").collect()}
    dropped = [d for d in (1, 2) if mapping[d][1] == "semantic_dup"]
    assert len(dropped) == 1 and mapping[dropped[0]][0] == 3 - dropped[0]
    exported = {r["doc_id"] for r in spark.read.parquet(f"{out}/corpus.parquet").collect()}
    assert exported == {3 - dropped[0], 3}


def test_build_training_corpus_snapshot_publish(spark, tmp_path):
    """snapshot=True: each build is an atomic snapshot version of
    {out}/corpus — a rebuild leaves the previous corpus time-travelable
    and the two builds diffable."""
    from binance_data_pipeline_spark.jobs import build_training_corpus
    from binance_data_pipeline_spark.operators.snapshots import (
        read_snapshot,
        snapshot_history,
    )

    body = (
        "a long enough document about distributed columnar engines and the "
        "shuffle exchanges their joins schedule across executor partitions"
    )
    rows = [
        (1, body, "en"),
        (2, body.replace("engines", "systems") + " more drift words", "en"),
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.parquet(src)

    out = str(tmp_path / "corpus_out")
    counts = build_training_corpus(
        spark, src, out, min_quality=0.0, dedup_threshold=0.95, snapshot=True
    )
    assert counts["exported"] == 2
    assert read_snapshot(spark, f"{out}/corpus").count() == 2

    # rebuild from a smaller source: version 1 replaces, version 0 remains
    spark.createDataFrame(
        rows[:1], "doc_id long, text string, lang string"
    ).write.mode("overwrite").parquet(src)
    build_training_corpus(
        spark, src, out, min_quality=0.0, dedup_threshold=0.95, snapshot=True
    )
    assert read_snapshot(spark, f"{out}/corpus").count() == 1
    assert read_snapshot(spark, f"{out}/corpus", version=0).count() == 2
    ops = [r["operation"] for r in snapshot_history(spark, f"{out}/corpus").collect()]
    assert ops == ["corpus-build", "corpus-build"]
