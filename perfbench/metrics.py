"""Names and units of every metric the benchmark prints.

BENCHMARK.json lists the same names; ``selftest.py`` checks that the two
agree. A per-layer metric whose layer a workload never enters is printed
as 0: that layer did no work in that run.
"""

from __future__ import annotations

#: End-to-end metrics (timed run, tracing off). Each workload maps them to
#: its own unit of work; see README.md.
END_TO_END = {
    "setup_s": "s",
    "sweep_s": "s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
}

#: Queries of medallion_batch, in catalog order (the run shuffles them).
MEDALLION = [
    "stg_events_clean", "fact_fee_tax", "ohlcv_hourly", "sessionize",
    "dedup_exact", "vwap_daily", "asof_purchase_click",
    "behavior_funnel_cohort", "pricing_summary", "forecast_revenue",
    "revenue_by_nation", "q2_min_cost_supplier", "q7_volume_shipping",
    "q9_product_profit", "star_join", "top_orders", "window_topk_running",
    "window_offsets_rolling", "conditional_distinct_agg",
]

#: Queries of corpus_kernels; ``retrieval_hybrid`` is the serve path of
#: ``operators.retrieval.hybrid_search``.
CORPUS = [
    "doc_token_stats", "doc_exact_dups", "doc_winnow_fingerprint",
    "minhash_near_dups", "simhash_near_dups", "embed_knn_brute",
    "embed_ann_lsh", "embed_ann_ivf", "embed_near_dups_brute",
    "embed_near_dups_lsh", "retrieval_hybrid",
]

#: Per-layer metrics (traced run). Batch workloads report means per pass
#: over the query set; bronze_ingest reports totals over its two phases
#: unless the name says otherwise.
PER_LAYER = {
    "setup.cold_s": "s",
    "memory.peak_rss_mb": "MB",
    "trace.overhead_pct": "%",
    "catalog.load_table_calls": "count",
    "catalog.load_table_s": "s",
    "catalog.inference_jobs": "count",
    "catalog.inference_jobs_per_call": "count",
    "plans.construct_s": "s",
    "plans.construct_jobs": "count",
    "spark.plan_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.driver_s": "s",
    "operators.python_worker_ms": "ms",
    "operators.python_bytes_sent": "bytes",
    "lifecycle.release_s": "s",
    "lifecycle.rdds_released": "count",
    "streaming.batches": "count",
    "streaming.rows_per_batch": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.processed_ev_s": "1/s",
    "streaming.catchup_ev_s": "1/s",
    "sources.get_batch_ms": "ms",
    "sources.latest_offset_ms": "ms",
    "sources.backlog_events": "count",
    "sources.first_batch_rows": "count",
    "generator.late_ms": "ms",
    "query.samples": "count",
    **{f"query.{name}.wall_s": "s" for name in MEDALLION},
}


def with_units(values: dict, units: dict, extra_units: dict | None = None) -> dict:
    """``{name: (value, unit)}`` for every name in ``units`` (0 where the
    run has no value), plus any ``values`` named in ``extra_units``."""
    out = {name: (float(values.get(name, 0.0)), unit) for name, unit in units.items()}
    for name, unit in (extra_units or {}).items():
        if name in values:
            out[name] = (float(values[name]), unit)
    return out
