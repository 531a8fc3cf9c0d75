"""The batch workloads: ``medallion_batch`` and ``corpus_kernels``.

Both are closed loops with one client: the workload's queries run one at a
time on ``local[nproc]``, each forced with a ``noop`` sink and followed by
``lifecycle.release_barriers``, in an order the seed shuffles anew for
every pass. Before the timed passes an untimed pass collects every query
once and checks it (DuckDB oracle, strict recall floors, retrieval ids),
and an untimed warm-up pass runs them as the timed passes do: the first
pass in a session is slower by 10 to 60% than the next, by an amount that
changes from run to run.
"""

from __future__ import annotations

import os
import random
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

from common import RESTARTS, RssSampler, log, median, percentile, set_up, setup_s
from metrics import CORPUS, END_TO_END, MEDALLION, PER_LAYER, with_units
from tracing import NoTracer, Tracer, descendants, load_event_log, self_times, union_s, wrapped_layers

#: Fewest pairs of passes a traced run makes: three, so that each side
#: goes first at least once and the median of each side sets aside one
#: outlying pass, such as a first pass that is still warming up.
MIN_PAIRS = 3
#: Percentile of ``latency_tail_ms``. With one pass of 19 queries, about
#: five samples lie beyond it; p90 would rest on two.
TAIL_PCT = 75
#: Queries the check pass runs side by side. corpus_kernels runs one at a
#: time: its queries build eager checkpoints and temp state of their own.
CHECK_WORKERS = {"medallion_batch": 3, "corpus_kernels": 1}
#: Rows-only corpus queries: no oracle, strict recall floor raises instead.
RECALL_ONLY = {
    "minhash_near_dups", "simhash_near_dups", "embed_ann_lsh",
    "embed_ann_ivf", "embed_near_dups_lsh",
}
RETRIEVAL_K = 10
RETRIEVAL_QUERIES = 16


class Retrieval:
    """``retrieval_hybrid``: the serve path of ``hybrid_search`` over a root
    built once in set-up. Each request searches the first six tokens of
    RETRIEVAL_QUERIES documents the seed draws, so no two requests in a
    run are identical."""

    def __init__(self, spark, data: str, root: str, seed: int):
        from binance_data_pipeline_spark.operators.retrieval import build_retrieval_index
        from binance_data_pipeline_spark.catalog import load_table

        docs = load_table(spark, data, "documents").select("doc_id", "text").toPandas()
        self.texts = [" ".join(t.split()[:6]) for t in docs["text"]]
        self.doc_ids = set(int(d) for d in docs["doc_id"])
        self.rng = random.Random(seed)
        self.root = root
        build_retrieval_index(
            spark, load_table(spark, data, "documents").select("doc_id", "text"),
            root, embed_dim=256, n_term_buckets=32, n_centroids=16,
        )

    def __call__(self, spark, data: str):
        from binance_data_pipeline_spark.operators.retrieval import hybrid_search

        picks = self.rng.sample(range(len(self.texts)), RETRIEVAL_QUERIES)
        qdf = spark.createDataFrame(
            [(f"q{i}", self.texts[i]) for i in picks], "query_id string, text string")
        return hybrid_search(spark, self.root, qdf, k=RETRIEVAL_K)

    def check(self, df) -> str | None:
        rows = df.select("query_id", "doc_id").collect()
        per_query = defaultdict(list)
        for r in rows:
            per_query[r["query_id"]].append(int(r["doc_id"]))
        if len(per_query) != RETRIEVAL_QUERIES:
            return f"{len(per_query)} of {RETRIEVAL_QUERIES} queries answered"
        for q, ids in per_query.items():
            if len(ids) != RETRIEVAL_K or not set(ids) <= self.doc_ids:
                return f"{q}: {len(ids)} ids, unknown {sorted(set(ids) - self.doc_ids)[:3]}"
        return None


def corpus_artifacts(spark, ctx, data: str, queries: dict) -> dict:
    """corpus_kernels' build-once artifacts: the IVF and LSH indexes and
    recall sidecars, which the program builds under the run's fresh temp
    dir on first use, and the retrieval root. Returns the query table with
    ``retrieval_hybrid`` bound to that root."""
    from binance_data_pipeline_spark.lifecycle import release_barriers

    for name in sorted(RECALL_ONLY):
        queries[name](spark, data).write.format("noop").mode("overwrite").save()
        release_barriers(spark)
    queries = dict(queries, retrieval_hybrid=Retrieval(
        spark, data, ctx.dir("retrieval_root"), ctx.seed))
    release_barriers(spark)
    return queries


def check_pass(ctx, spark, names, queries, data, workers: int) -> None:
    """Untimed: run every query once, ``workers`` at a time, and check its
    result. Running them side by side shortens the pass that warms the JVM;
    the barriers they leave are released once all are done."""
    import duckdb

    from binance_data_pipeline_spark.lifecycle import release_barriers
    from binance_data_pipeline_spark.plans import all_oracle_sql
    from tests.oracle_harness import compare

    oracle = all_oracle_sql()
    with duckdb.connect() as con:
        for f in sorted(os.listdir(data)):
            con.sql(f"CREATE VIEW {f.removesuffix('.parquet')} AS "
                    f"SELECT * FROM read_parquet('{os.path.join(data, f)}')")
        expected = {n: con.sql(oracle[n]).df() for n in names if n in oracle}

    def check(name: str) -> str | None:
        try:
            df = queries[name](spark, data)
            if name == "retrieval_hybrid":
                return queries[name].check(df)
            if name in expected:
                return "; ".join(compare(df, expected[name], name)) or None
            rows = df.select("recall_ok").collect()
            return None if all(r["recall_ok"] for r in rows) else "recall below floor"
        except Exception as e:  # a failing query is a finding, not a crash
            return f"{type(e).__name__}: {e}"[:300]

    with ThreadPoolExecutor(workers) as pool:
        for name, problem in zip(names, pool.map(check, names)):
            ctx.check(problem is None, f"check {name}: {problem}")
    release_barriers(spark)


def one_pass(ctx, spark, order, queries, data, tracer, release, walls) -> tuple[float, int]:
    """One pass over ``order``; appends each query's wall to ``walls``.
    Returns the pass wall and the number of RDDs released."""
    traced = isinstance(tracer, Tracer)
    released = 0
    t_pass = time.perf_counter()
    with tracer.span(f"pass{len(walls[order[0]])}", "pass"):
        for name in order:
            t0 = time.perf_counter()
            with tracer.span(name, "query"):
                try:
                    with tracer.span("construct", "construct"):
                        df = queries[name](spark, data)
                    if traced:
                        with tracer.span("plan", "plan"):
                            df._jdf.queryExecution().executedPlan()
                    with tracer.span("action", "action"):
                        df.write.format("noop").mode("overwrite").save()
                    ok = True
                except Exception as e:
                    ok = ctx.check(False, f"{name}: {type(e).__name__}: {e}"[:300])
                with tracer.span("release", "release"):
                    released += release(spark)
            if ok:
                ctx.check(True, name)
            walls[name].append(time.perf_counter() - t0)
    return time.perf_counter() - t_pass, released


def timed_passes(ctx, spark, names, queries, data):
    """Untraced passes over ``names``, each in a new order the seed
    shuffles: one, and more while another pass as long as the last is
    expected to end within ``ctx.seconds`` of the start. A pass that ends
    just past the deadline thus never brings on a second one, and the
    number of passes stays the same from run to run. Returns pass walls and
    per-query walls."""
    from binance_data_pipeline_spark.lifecycle import release_barriers

    rng = random.Random(ctx.seed)
    order = list(names)
    passes, walls = [], defaultdict(list)
    start = time.perf_counter()
    while not passes or time.perf_counter() - start + passes[-1] <= ctx.seconds:
        rng.shuffle(order)
        passes.append(one_pass(ctx, spark, order, queries, data, NoTracer(),
                               release_barriers, walls)[0])
        log(f"pass {len(passes) - 1}: {passes[-1]:.2f}s")
    return passes, walls


def paired_passes(ctx, spark, names, queries, data, tracer):
    """Pairs of one untraced and one traced pass over the same shuffled
    order, until ``ctx.seconds`` have gone by and at least MIN_PAIRS pairs
    are done. The pairs alternate which pass goes first (untraced-traced,
    then traced-untraced), so JIT warm-up and host drift weigh on both
    sides alike. Returns untraced pass walls, traced pass walls, traced
    per-query walls, RDDs released and load_table calls in traced passes."""
    from binance_data_pipeline_spark.lifecycle import release_barriers

    rng = random.Random(ctx.seed)
    order = list(names)
    plain, traced, released = [], [], 0
    plain_walls, traced_walls, counters = defaultdict(list), defaultdict(list), defaultdict(int)
    deadline = time.perf_counter() + ctx.seconds
    while time.perf_counter() < deadline or len(traced) < MIN_PAIRS:
        rng.shuffle(order)
        for with_spans in ((False, True) if len(traced) % 2 == 0 else (True, False)):
            if with_spans:
                with wrapped_layers(tracer, counters) as release:
                    wall, n = one_pass(ctx, spark, order, queries, data, tracer,
                                       release, traced_walls)
                traced.append(wall)
                released += n
            else:
                plain.append(one_pass(ctx, spark, order, queries, data, NoTracer(),
                                      release_barriers, plain_walls)[0])
        log(f"pair {len(traced) - 1}: untraced {plain[-1]:.2f}s, traced {traced[-1]:.2f}s")
    return plain, traced, traced_walls, released, counters


def layer_metrics(spans, event_log, counters, passes, walls, released) -> dict:
    """Per-pass means of the per-layer metrics of one traced window."""
    groups, job_spans = event_log["groups"], event_log["job_spans"]
    by_kind = defaultdict(list)
    for s in spans:
        by_kind[s["kind"]].append(s)

    def dur(kind):
        return sum(s["end"] - s["start"] for s in by_kind[kind])

    def jobs_in(ids):
        return sum(groups[i]["jobs"] for i in ids if i in groups)

    n = len(passes)
    loads = {s["id"] for s in by_kind["catalog.load_table"]}
    constructs = {s["id"] for s in by_kind["construct"]}
    window = set().union(*(descendants(spans, s["id"]) for s in by_kind["pass"]))
    out = {
        "catalog.load_table_calls": counters["load_table_calls"] / n,
        "catalog.load_table_s": dur("catalog.load_table") / n,
        "catalog.inference_jobs": jobs_in(loads) / n,
        "catalog.inference_jobs_per_call": jobs_in(loads) / max(counters["load_table_calls"], 1),
        "plans.construct_s": dur("construct") / n,
        "plans.construct_jobs": jobs_in(constructs) / n,
        "spark.plan_s": dur("plan") / n,
        "lifecycle.release_s": dur("release") / n,
        "lifecycle.rdds_released": released / n,
        "query.samples": sum(len(w) for w in walls.values()),
    }
    for key in ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
                "gc_ms", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes"):
        out[f"spark.{key}"] = sum(groups[i][key] for i in window if i in groups) / n
    for key in ("python_worker_ms", "python_bytes_sent"):
        out[f"operators.{key}"] = sum(groups[i][key] for i in window if i in groups) / n
    driver = 0.0
    for q in by_kind["query"]:
        ids = descendants(spans, q["id"])
        jobs = [(max(a, q["start"]), min(b, q["end"]))
                for i in ids for a, b in job_spans.get(i, []) if b > q["start"] and a < q["end"]]
        driver += (q["end"] - q["start"]) - union_s(jobs)
    out["spark.driver_s"] = driver / n
    for name, w in walls.items():
        out[f"query.{name}.wall_s"] = median(w)
    return out


def self_time_gap(spans) -> float:
    """Largest |sum of self times in a query's subtree - the query's wall|,
    in seconds (0 up to float error by construction of self times)."""
    st = self_times(spans)
    gap = 0.0
    for q in (s for s in spans if s["kind"] == "query"):
        total = sum(st[i] for i in descendants(spans, q["id"]))
        gap = max(gap, abs(total - (q["end"] - q["start"])))
    return gap


def run(ctx):
    from binance_data_pipeline_spark.lifecycle import release_barriers
    from binance_data_pipeline_spark.plans import all_queries

    queries = dict(all_queries())
    with RssSampler() as rss:
        if ctx.workload == "medallion_batch":
            names = MEDALLION
            spark, _, setups = set_up(ctx)
        else:
            # One set-up only: the artifacts take about 18 s to build.
            names = CORPUS
            spark, queries, setups = set_up(
                ctx, lambda s: corpus_artifacts(s, ctx, ctx.data, queries),
                event_log=ctx.trace)
        t0 = time.perf_counter()
        check_pass(ctx, spark, names, queries, ctx.data, CHECK_WORKERS[ctx.workload])
        log(f"check pass: {time.perf_counter() - t0:.2f}s")
        if ctx.workload == "medallion_batch":
            spark, _, restarts = set_up(ctx, count=RESTARTS, event_log=ctx.trace,
                                        previous=(spark, None))
            setups += restarts
        t0 = time.perf_counter()
        one_pass(ctx, spark, names, queries, ctx.data, NoTracer(), release_barriers,
                 defaultdict(list))
        log(f"warm-up pass: {time.perf_counter() - t0:.2f}s")
        end_to_end, per_layer, tracer = {}, {}, None
        if not ctx.trace:
            passes, walls = timed_passes(ctx, spark, names, queries, ctx.data)
            samples = [w for ws in walls.values() for w in ws]
            end_to_end = {
                "setup_s": setup_s(setups),
                "sweep_s": median(passes),
                "latency_p50_ms": 1000 * median(samples),
                "latency_tail_ms": 1000 * percentile(samples, TAIL_PCT),
            }
            log(f"{len(passes)} passes, {len(samples)} query samples; " + ", ".join(
                f"{k}={v:.4g}" for k, v in end_to_end.items()))
        else:
            # The session of the last set-up writes the event log, so both
            # sides of every pair run with it on; the program keeps
            # Python-side broadcasts across calls that a new session would
            # invalidate.
            tracer = Tracer(spark.sparkContext, f"{ctx.workload}-{ctx.seed}")
            with tracer.span(ctx.workload, "workload"):
                plain, traced, t_walls, released, counters = paired_passes(
                    ctx, spark, names, queries, ctx.data, tracer)
        spark.stop()
    if ctx.trace:
        event_log = load_event_log(ctx.dir("eventlog"))
        per_layer = layer_metrics(
            tracer.spans, event_log, counters, traced, t_walls, released)
        per_layer["setup.cold_s"] = setups[0]
        per_layer["memory.peak_rss_mb"] = rss.peak_mb
        per_layer["trace.overhead_pct"] = 100 * (median(traced) / median(plain) - 1)
        gap = self_time_gap(tracer.spans)
        log(f"traced: overhead {per_layer['trace.overhead_pct']:.1f}% "
            f"(untraced {median(plain):.2f}s, traced {median(traced):.2f}s per pass), "
            f"self-time gap {gap:.2e}s")
    extra = {f"query.{n}.wall_s": "s" for n in names}
    return (with_units(end_to_end, END_TO_END),
            with_units(per_layer, PER_LAYER, extra), tracer)
