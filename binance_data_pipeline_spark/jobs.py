"""Job entry points — the engine-side equivalents of the reference's
Airflow DAGs (SURVEY §1.1: DAG edges become function-call order; scheduling
stays external, exactly as dbt/Airflow are external to BigQuery).

daily_backfill_and_transform ≡ binance_revenue_dag (airflow/dags/
binance_revenue_dag.py:43-82): 3-day REST re-ingest → staging → incremental
fact → quality gate. Idempotent by construction: the re-ingested window
lands only rows above the fact's high watermark, and unique_key dedup
collapses re-pulls — re-running the job is a no-op (the reference leans on
the same two mechanisms, ST5).

hourly_transform ≡ binance_dbt_dag (dbt run → dbt test hourly): staging →
incremental → quality over whatever new bronze arrived.
"""

from __future__ import annotations

import logging
import time
from dataclasses import dataclass
from datetime import date
from typing import Callable, TypeVar

from pyspark.sql import SparkSession

from .operators.cleaning import bronze_to_staging, raw_to_bronze
from .operators.incremental import incremental_append
from .quality import CheckResult, run_checks, trade_table_checks
from .sources.rest_backfill import Fetcher, fetch_grid, fetch_trades

from .session import local_rows

_log = logging.getLogger(__name__)

T = TypeVar("T")


@dataclass
class JobReport:
    rows_ingested: int
    rows_appended: int
    checks: list[CheckResult]

    @property
    def ok(self) -> bool:
        return all(c.passed for c in self.checks)


def run_with_retries(
    job: Callable[[], T],
    retries: int = 1,
    retry_delay_s: float = 300.0,
    backoff: float = 1.0,
    sleep: Callable[[float], None] = time.sleep,
) -> T:
    """Opt-in retry wrapper for job entry points — the engine-side twin of
    the reference's Airflow default_args (``retries: 1, retry_delay:
    timedelta(minutes=5)``, airflow/dags/binance_dbt_dag.py:11-12). Every
    job here is idempotent by construction (HWM + unique-key dedup, module
    docstring), so a retry after a transient failure is safe: the re-run
    converges to the same table state.

    ``backoff`` multiplies the delay each attempt (1.0 = Airflow's fixed
    delay). ``sleep`` is injectable so tests don't wait wall-clock time.
    Raises the last exception once retries are exhausted.

        report = run_with_retries(
            lambda: daily_backfill_and_transform(spark, d, syms, f, b, fct))
    """
    attempt = 0
    delay = retry_delay_s
    while True:
        try:
            return job()
        except Exception as exc:  # noqa: BLE001 — job boundary, rethrown when exhausted
            if attempt >= retries:
                raise
            attempt += 1
            _log.warning(
                "job attempt %d/%d failed (%s); retrying in %.0fs",
                attempt, retries + 1, exc, delay,
            )
            sleep(delay)
            delay *= backoff


def daily_backfill_and_transform(
    spark: SparkSession,
    logical_date: date,
    symbols: list[str],
    fetcher: Fetcher,
    bronze_path: str,
    fact_path: str,
    lookback_days: int = 3,
    hours: tuple[int, ...] = (12,),
) -> JobReport:
    """The daily DAG: fetch grid → distributed REST pull → bronze append →
    staging → incremental fact → quality gate (test stage runs AFTER the
    transform, like dbt_run >> dbt_test)."""
    grid = fetch_grid(spark, logical_date, symbols, lookback_days, hours)
    wire = fetch_trades(grid, fetcher)
    # REST aggTrades carry trade_time only; event_time := trade_time (the
    # reference derives event fields the same way, ingest_...py:54-59)
    wire = wire.withColumnRenamed("trade_time", "event_time")
    bronze_inc = raw_to_bronze(wire)
    n_ingested = bronze_inc.count()
    if n_ingested:
        bronze_inc.write.mode("append").partitionBy("event_date", "hour").parquet(bronze_path)

    bronze = spark.read.parquet(bronze_path)
    staging = bronze_to_staging(bronze)
    n_appended = incremental_append(spark, staging, fact_path)
    checks = run_checks(trade_table_checks(spark.read.parquet(fact_path)))
    return JobReport(n_ingested, n_appended, checks)


def hourly_transform(spark: SparkSession, bronze_path: str, fact_path: str) -> JobReport:
    """The hourly DAG: staging → incremental → test, no ingest stage."""
    staging = bronze_to_staging(spark.read.parquet(bronze_path))
    n = incremental_append(spark, staging, fact_path)
    checks = run_checks(trade_table_checks(spark.read.parquet(fact_path)))
    return JobReport(0, n, checks)


def build_training_corpus(
    spark: SparkSession,
    docs_path: str,
    out_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.5,
    dedup_threshold: float = 0.85,
    lang_rates: dict[str, float] | None = None,
    default_rate: float = 1.0,
    chunk_tokens: int | None = None,
    overlap_tokens: int = 32,
    shuffle_seed: int = 0,
    max_bucket_size: int | None = 5000,
    max_repetition: float | None = None,
    probes_path: str | None = None,
    max_contamination: float = 0.5,
    probes_bloom: bool | None = None,
    domain_rules: dict[str, dict] | None = None,
    domain_col: str = "source",
    embeddings_path: str | None = None,
    embedding_id_col: str = "vec_id",
    semantic_threshold: float = 0.9,
    semantic_k: int = 16,
    embed_dim: int | None = None,
    substring_min_len: int | None = None,
    lm_ref_path: str | None = None,
    lm_max_cross_entropy: float = 10.0,
    lm_ngram: int = 1,
    clf_labeled_path: str | None = None,
    clf_min_prob: float = 0.5,
    clf_buckets: int = 10_000,
    clf_iterations: int = 40,
    dsir_target_path: str | None = None,
    dsir_k: int | None = None,
    dsir_buckets: int = 10_000,
    dsir_seed: int = 0,
    url_col: str | None = None,
    url_strip_params: list[str] | None = None,
    snapshot: bool = False,
) -> dict[str, int]:
    """The end-to-end training-data DAG (extension — no reference
    equivalent): raw documents → PII redaction → quality + repetition
    filter → exact + near dedup with audit trail → optional benchmark
    decontamination → optional language re-weighting → optional
    fixed-window chunking → deterministic shuffle → corpus write.

    Stage order is deliberate: redaction BEFORE fingerprinting (two docs
    differing only in a redacted email ARE duplicates), quality before
    dedup (don't pay shingling for docs that get dropped anyway),
    decontamination after dedup (one kept doc stands for its whole
    cluster), sampling after that (rates apply to unique clean content),
    shuffle last (the export permutation covers chunks, not docs).

    ``embeddings_path`` adds a SEMANTIC dedup pass (operators/semdedup —
    paraphrase-level dups the shingle pipeline can't see) right after the
    text dedup: docs joined to their embeddings (``embedding_id_col`` →
    doc id), k-means-cell-bounded cosine pruning at
    ``semantic_threshold``, keeper = farthest-from-centroid. Docs with
    no embedding row pass through untouched, and dropped docs land in
    the same mapping audit trail with reason ``semantic_dup``.
    ``embed_dim`` (with no ``embeddings_path``) runs the same semantic
    pass on embeddings generated IN-FLIGHT from the kept docs' text by
    ``operators/embedder.hash_encoder`` — no external model or
    embedding table required; one extra map stage, same dedup plan.

    ``lm_ref_path`` points at a parquet of TRUSTED reference docs (same
    id/text columns): an n-gram LM trains on it and docs whose
    cross-entropy exceeds ``lm_max_cross_entropy`` are dropped (CCNet
    fluency gate, operators/lm_score) — runs with the quality stage,
    before dedup, so shingling is never paid for disfluent docs.

    ``substring_min_len`` adds span-level EXACT-SUBSTRING dedup
    (operators/substring — Lee et al. ExactSubstr) after the doc-level
    passes: verbatim spans of ≥ that many tokens surviving in more than
    one KEPT doc are removed from all but the first occurrence. Runs
    after doc dedup deliberately — whole-doc dups are already gone, so
    the span pass only pays for genuinely partial overlaps; span-edited
    docs stay in the corpus (rebuilt text), so the mapping audit trail
    is untouched. Span removals land in stats as ``span_tokens_removed``.

    ``clf_labeled_path`` points at a parquet of LABELED docs (same
    id/text columns plus a 0/1 ``label``): a hashed-n-gram logistic
    model trains on it (operators/quality_classifier — the
    FineWeb-Edu/fastText recipe) and docs scoring under ``clf_min_prob``
    are dropped — runs with the quality stage, before dedup, like the
    LM gate. ``clf_buckets``/``clf_iterations`` must describe the model
    you want; they are the feature geometry and the training budget.

    ``dsir_target_path`` + ``dsir_k`` adds DSIR importance RESAMPLING
    (operators/dsir — Xie et al.): of the unique, clean, decontaminated
    docs, keep the ``dsir_k`` whose hashed-n-gram distribution best
    matches the target corpus (Gumbel top-k, deterministic under
    ``dsir_seed``). Runs after dedup + decontamination deliberately —
    duplicates would each draw their own Gumbel and overselect
    duplicated mass; contaminated docs must never win a slot.

    ``url_col`` (round 6) prepends canonical-URL dedup (operators/urls):
    re-crawls of the same page — tracking params, host case, param order
    — collapse to the min-id row BEFORE any content pass is paid, the
    CCNet/C4/RefinedWeb front door. Unparseable URLs pass through;
    ``url_strip_params`` overrides the tracking-parameter list.

    ``max_repetition`` drops docs whose intra-doc n-gram repetition
    exceeds the bound (looping/boilerplate text); ``probes_path`` points
    at a parquet of benchmark docs (same id/text columns) — kept docs
    overlapping any probe by ≥ ``max_contamination`` (8-token shingle
    fraction) are removed; ``probes_bloom`` picks the Bloom-prefiltered
    scan for probe sets too big to broadcast raw (None = auto by probe
    count, results identical either way). ``domain_rules`` swaps the flat
    ``min_quality`` gate for per-domain thresholds over ``domain_col``
    (operators/quality_rules.filter_by_domain — Gopher/C4 bundles with a
    ``"*"`` default row); the global ``min_quality``/``max_repetition``
    still apply on top if set.

    Writes under ``out_path``:
        corpus.parquet    kept (redacted, optionally chunked) rows
        mapping.parquet   dedup audit trail (doc_id → kept_doc_id, reason)
        stats.parquet     one-row per-stage row counts (the job report)

    Returns the per-stage counts dict. Everything before the final
    shuffle is map-side or bucket-bounded (see operators/dedup.py); the
    shuffle is one range exchange. Barriers created by dedup are released
    on exit (lifecycle.barrier_scope).

    ``snapshot=True`` publishes the corpus as a version of the snapshot
    table ``{out}/corpus`` instead of an in-place overwrite of
    ``corpus.parquet``: the swap is one atomic manifest rename (readers
    and a training run launched mid-build keep the previous corpus), a
    crashed build leaves an invisible orphan, prior builds stay
    time-travelable for run reproducibility, and two builds diff with
    ``snapshot_diff``."""
    from pyspark.sql import functions as F

    from .lifecycle import barrier_scope
    from .operators.dedup import contamination_report, dedup_corpus
    from .operators.sampling import shuffle_deterministic, stratified_sample
    from .operators.text import (
        chunk_documents,
        quality_score,
        redact_documents,
        repetition_ratio,
    )

    out = out_path.rstrip("/")
    docs = spark.read.parquet(docs_path)
    counts: dict[str, int] = {"input": docs.count()}

    # URL dedup FIRST (``url_col``): a canonical-URL match is free
    # compared to every content pass below — CCNet/C4/RefinedWeb all cut
    # re-crawls this way before touching text (operators/urls; keeper =
    # min id, unparseable URLs pass through). Counts-only stage: URL dups
    # never reach the fingerprint passes, so the mapping audit trail
    # starts from the URL-unique set.
    if url_col is not None:
        from .operators.urls import dedup_by_url

        docs = dedup_by_url(
            docs, url_col=url_col, id_col=id_col, strip_params=url_strip_params
        )
        counts["after_url_dedup"] = docs.count()

    with barrier_scope(spark):
        red = redact_documents(docs, text_col)
        good = red.where(quality_score(text_col) >= min_quality)
        if max_repetition is not None:
            good = good.where(repetition_ratio(text_col) <= max_repetition)
        if domain_rules is not None:
            from .operators.quality_rules import filter_by_domain

            good = filter_by_domain(
                good, domain_rules, domain_col=domain_col, text_col=text_col
            )
        if lm_ref_path is not None:
            from .operators.lm_score import filter_by_lm, train_ngram_lm

            lm = train_ngram_lm(
                spark.read.parquet(lm_ref_path),
                id_col=id_col, text_col=text_col, n=lm_ngram,
            )
            good = filter_by_lm(
                good, lm, lm_max_cross_entropy,
                id_col=id_col, text_col=text_col, n=lm_ngram,
            )
        if clf_labeled_path is not None:
            from .operators.quality_classifier import (
                filter_by_quality,
                train_quality_classifier,
            )

            weights, intercept, _ = train_quality_classifier(
                spark.read.parquet(clf_labeled_path),
                id_col=id_col, text_col=text_col,
                buckets=clf_buckets, iterations=clf_iterations,
            )
            good = filter_by_quality(
                good, weights, intercept, clf_min_prob,
                id_col=id_col, text_col=text_col, buckets=clf_buckets,
            )
        counts["after_quality"] = good.count()

        kept, mapping = dedup_corpus(
            good, id_col=id_col, text_col=text_col, threshold=dedup_threshold,
            max_bucket_size=max_bucket_size,
        )
        counts["after_dedup"] = kept.count()

        if embeddings_path is not None or embed_dim is not None:
            from .operators.semdedup import semantic_dedup

            if embeddings_path is not None:
                emb = spark.read.parquet(embeddings_path).select(
                    F.col(embedding_id_col).alias("__emb_id"), F.col("embedding")
                )
                with_vec = kept.join(
                    emb, F.col(id_col) == F.col("__emb_id"), "inner"
                )
            else:  # in-flight hash embeddings over the kept docs' text
                from .operators.embedder import embed_texts

                with_vec = embed_texts(kept, text_col=text_col, dim=embed_dim)
            decision = semantic_dedup(
                with_vec, id_col=id_col, vec_col="embedding",
                k=semantic_k, threshold=semantic_threshold,
            )
            sem_drop = (
                decision.where(~F.col("keep"))
                .join(
                    decision.where(F.col("keep")).select(
                        F.col("group_id"), F.col("id").alias("__sem_keeper")
                    ),
                    "group_id",
                )
                .select(
                    F.col("id").alias("doc_id"),
                    F.col("__sem_keeper").alias("kept_doc_id"),
                    F.lit("semantic_dup").alias("reason"),
                )
            )
            sem_drop.localCheckpoint(eager=True)
            kept = kept.join(
                sem_drop.select(F.col("doc_id").alias("__drop_id")),
                F.col(id_col) == F.col("__drop_id"),
                "left_anti",
            )
            # the audit trail reflects BOTH passes; a doc that survived
            # text dedup but lost the semantic round flips to its
            # semantic keeper
            mapping = mapping.join(
                sem_drop.select(F.col("doc_id").alias("__sd_id")),
                mapping.doc_id == F.col("__sd_id"),
                "left_anti",
            ).unionByName(sem_drop)
            counts["after_semantic_dedup"] = kept.count()

        mapping.write.mode("overwrite").parquet(f"{out}/mapping.parquet")

        if substring_min_len is not None:
            from .operators.substring import dedup_substrings

            kept, span_report = dedup_substrings(
                kept, id_col=id_col, text_col=text_col, min_len=substring_min_len
            )
            counts["span_tokens_removed"] = (
                span_report.agg(F.sum("n_tokens_removed")).collect()[0][0] or 0
            )

        if probes_path is not None:
            from .operators.dedup import contamination_report_bloom

            probes = spark.read.parquet(probes_path)
            # bloom-prefiltered scan when the probe set is too big to
            # broadcast raw; auto = bounded row-count probe (None = auto)
            use_bloom = (
                probes.limit(50_001).count() > 50_000
                if probes_bloom is None
                else probes_bloom
            )
            scan = contamination_report_bloom if use_bloom else contamination_report
            dirty = scan(
                kept, probes, id_col=id_col, text_col=text_col,
                min_overlap=max_contamination,
            ).select(F.col(id_col).alias("__dirty_id")).distinct()
            kept = kept.join(
                dirty, F.col(id_col) == F.col("__dirty_id"), "left_anti"
            )
            counts["after_decontamination"] = kept.count()

        if dsir_target_path is not None:
            if dsir_k is None:
                raise ValueError("dsir_target_path requires dsir_k")
            from .operators.dsir import dsir_resample

            kept = dsir_resample(
                kept, spark.read.parquet(dsir_target_path), k=dsir_k,
                id_col=id_col, text_col=text_col,
                buckets=dsir_buckets, seed=dsir_seed,
            ).drop("dsir_logw", "dsir_key")
            counts["after_dsir"] = kept.count()

        sampled = (
            stratified_sample(kept, id_col, "lang", lang_rates, default_rate=default_rate)
            if lang_rates
            else kept
        )

        if chunk_tokens is not None:
            chunks = chunk_documents(
                sampled, id_col=id_col, text_col=text_col,
                chunk_tokens=chunk_tokens, overlap_tokens=overlap_tokens,
            ).withColumnRenamed("id", id_col)
            # chunk identity for the shuffle key: (doc, chunk) hashed together
            export = chunks.withColumn(
                "__export_id", F.xxhash64(F.col(id_col), F.col("chunk_idx"))
            )
            key = "__export_id"
        else:
            export = sampled
            key = id_col

        shuffled = shuffle_deterministic(export, key, seed=shuffle_seed)
        if key == "__export_id":
            shuffled = shuffled.drop("__export_id")
        if snapshot:
            # atomic, versioned publish: readers keep seeing the PREVIOUS
            # corpus until the manifest rename lands; failed builds leave
            # an invisible orphan, and two builds are diffable with
            # snapshot_diff / time-travelable for training reproducibility
            from .operators.snapshots import commit_snapshot

            commit_snapshot(
                spark,
                f"{out}/corpus",
                shuffled,
                mode="overwrite",
                operation="corpus-build",
            )
        else:
            shuffled.write.mode("overwrite").parquet(f"{out}/corpus.parquet")

    if snapshot:
        from .operators.snapshots import read_snapshot

        counts["exported"] = read_snapshot(spark, f"{out}/corpus").count()
    else:
        counts["exported"] = spark.read.parquet(f"{out}/corpus.parquet").count()
    local_rows(
        spark, [tuple(counts.values())], ", ".join(f"{k} long" for k in counts)
    ).write.mode("overwrite").parquet(f"{out}/stats.parquet")
    return counts


def build_training_corpus_from_config(
    spark: SparkSession, config_path: str
) -> dict[str, int]:
    """Config-driven corpus build: a YAML file whose keys are
    `build_training_corpus` keyword arguments plus required
    ``docs_path`` / ``out_path`` — the declarative twin of the CLI
    `corpus` subcommand (version the file next to the data, `-c
    corpus.yaml` in CI, same contract as quality.py's YAML suites).
    Unknown keys fail loudly BEFORE any Spark work: a typo like
    `dedup_treshold` silently reverting to the default is exactly the
    kind of config drift a corpus build can least afford."""
    import inspect

    import yaml

    with open(config_path) as fh:
        cfg = yaml.safe_load(fh)
    if not isinstance(cfg, dict):
        raise ValueError(f"{config_path} must be a YAML mapping")
    for required in ("docs_path", "out_path"):
        if required not in cfg:
            raise ValueError(f"{config_path} is missing required key {required!r}")
    allowed = set(inspect.signature(build_training_corpus).parameters) - {"spark"}
    unknown = sorted(set(cfg) - allowed)
    if unknown:
        raise ValueError(
            f"unknown config keys {unknown} — valid keys: {sorted(allowed)}"
        )
    return build_training_corpus(spark, **cfg)
