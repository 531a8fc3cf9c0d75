"""CLI entry points: `python -m binance_data_pipeline_spark <job> ...`

The operational surface a user of the reference pipeline would drive via
Airflow tasks, as plain commands:

  ingest     streaming bronze ingest from a JSON-lines directory (or Kafka)
  backfill   daily REST backfill + incremental transform (offline fetcher
             unless --kafka-ish endpoints are wired in production)
  transform  hourly staging -> incremental fact -> quality gate
  revenue    fee/tax revenue fact for a date (§3.4)
  index      build a retrieval serving root (passages + BM25 [+ IVF ANN];
             --embed-dim makes it self-contained from raw text)
  search     hybrid search (BM25 + ANN, RRF-fused; --rerank for the
             second-stage token-F1 rerank) against a serving root
  validate   consistency audit of a serving root (exit 1 on any
             unindexed passage / orphan vector / count drift)
  topics     topic discovery: k-means clusters + c-TF-IDF keywords
             over a documents parquet (synthesized domain labels)
  eval       macro retrieval metrics (recall@k, MRR, nDCG) for judged
             queries against a serving root (hybrid or --rm3)
  snapshot   versioned-table ops (operators/snapshots): print history,
             commit a parquet as the next version (--bloom-cols adds
             per-dir Bloom indexes), rollback, vacuum, keyed CDC diff
             (--diff A B --keys k), MERGE upsert (--merge upd.parquet
             --keys k), compaction (--compact [--only-small-mb N]
             [--cluster-by c]), point lookup (--lookup col v1,v2),
             predicate DML (--delete-where p; --set c=e [--where p])
  mview      incrementally maintained materialized aggregate view:
             refresh folds only the source delta, exactly-once
             (--src --view --keys k --aggs n:count,total:sum:amount)
  profile    per-column table profile (operators/profile): nulls,
             distinct estimate, range, quantiles, top values
  audit      physical-plan audit of the whole catalog (plans/audit):
             CartesianProduct / row-Python / pushdown / wide-scan smells;
             exit 1 on any non-exempt error (--extended adds plans/tpch.py)
  models     dbt-style SQL model project run (sql_models): ref/source
             wiring, view/table/incremental materializations, schema.yml
             test gating, {% snapshot %} SCD2 blocks via --snapshots
"""

from __future__ import annotations

import argparse
import sys
from datetime import date

from .session import get_spark


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="binance_data_pipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pi = sub.add_parser("ingest", help="streaming bronze ingest")
    pi.add_argument("--source", required=True, help="JSON-lines dir or kafka:<bootstrap>/<topic>")
    pi.add_argument("--out", required=True)
    pi.add_argument("--checkpoint", required=True)
    pi.add_argument("--drain", action="store_true", help="availableNow: drain and stop")

    pb = sub.add_parser("backfill", help="daily REST backfill + transform")
    pb.add_argument("--date", required=True)
    pb.add_argument("--symbols", default="BTCUSDT,ETHUSDT")
    pb.add_argument("--bronze", required=True)
    pb.add_argument("--fact", required=True)

    pt = sub.add_parser("transform", help="hourly staging -> fact -> test")
    pt.add_argument("--bronze", required=True)
    pt.add_argument("--fact", required=True)

    pr = sub.add_parser("revenue", help="fee/tax revenue fact for a date")
    pr.add_argument("--date", required=True)
    pr.add_argument("--silver", required=True)
    pr.add_argument("--rules-csv", required=True)
    pr.add_argument("--out", required=True)

    px = sub.add_parser("index", help="build a retrieval serving root (BM25 [+ ANN])")
    px.add_argument("--docs", required=True, help="documents parquet (doc_id, text)")
    px.add_argument("--out", required=True, help="serving root directory")
    px.add_argument("--embeddings", default=None, help="embeddings parquet (vec_id, embedding)")
    px.add_argument("--embed-dim", type=int, default=None,
                    help="self-contained root: generate passage embeddings in-flight")
    px.add_argument("--chunk-tokens", type=int, default=None)
    px.add_argument("--term-buckets", type=int, default=64)
    px.add_argument("--centroids", type=int, default=16)

    ps = sub.add_parser("search", help="hybrid search against a serving root")
    ps.add_argument("--root", required=True)
    ps.add_argument("--query", required=True, help="query text")
    ps.add_argument("--k", type=int, default=10)
    ps.add_argument("--rerank", action="store_true",
                    help="second-stage rerank (token-F1 scorer)")
    ps.add_argument("--rm3", action="store_true",
                    help="lexical-only RM3 query expansion instead of hybrid")

    pv = sub.add_parser("validate", help="consistency audit of a serving root")
    pv.add_argument("--root", required=True)

    pe = sub.add_parser("eval", help="retrieval metrics against judged queries")
    pe.add_argument("--root", required=True)
    pe.add_argument("--queries", required=True,
                    help="parquet of (query_id, text)")
    pe.add_argument("--qrels", required=True,
                    help="parquet of (query_id, doc_id[, rel])")
    pe.add_argument("--k", type=int, default=10)
    pe.add_argument("--rm3", action="store_true",
                    help="lexical RM3 expansion instead of hybrid")

    pp = sub.add_parser("topics", help="topic discovery over a documents parquet")
    pp.add_argument("--docs", required=True)
    pp.add_argument("--out", required=True,
                    help="writes assignments.parquet + keywords.parquet")
    pp.add_argument("--k", type=int, default=16)
    pp.add_argument("--embed-dim", type=int, default=256)
    pp.add_argument("--top-terms", type=int, default=10)

    pa = sub.add_parser(
        "audit", help="physical-plan audit of the whole query catalog (scale smells)"
    )
    pa.add_argument("--sf-dir", default="/root/testdata/sf0.001",
                    help="testdata dir the plans are built against")
    pa.add_argument("--extended", action="store_true",
                    help="also audit the tiers outside the driver catalog "
                         "(plans/tpch.py)")

    pf = sub.add_parser(
        "profile", help="per-column table profile (nulls, distinct, range, top values)"
    )
    pf.add_argument("--table", required=True, help="parquet path to profile")
    pf.add_argument("--out", default=None, help="optional parquet output for the profile")
    pf.add_argument("--top-k", type=int, default=5)

    pn = sub.add_parser(
        "snapshot", help="versioned-table ops: history / commit / rollback / vacuum"
    )
    pn.add_argument("--table", required=True, help="snapshot table directory")
    pn.add_argument("--commit", default=None, help="parquet path to commit as the next version")
    pn.add_argument("--mode", default="append", choices=["append", "overwrite"])
    pn.add_argument("--bloom-cols", default=None,
                    help="comma-separated columns to record per-dir Bloom "
                         "filters for on --commit (point-lookup dir skipping)")
    pn.add_argument("--bloom-bits", type=int, default=1 << 16,
                    help="bloom size in bits (~10x expected distinct keys/dir)")
    pn.add_argument("--lookup", nargs=2, metavar=("COL", "VALUES"), default=None,
                    help="bloom+stats-pruned point lookup: comma-separated "
                         "values; prints the matching row count")
    pn.add_argument("--rollback", type=int, default=None, help="restore this version (new commit)")
    pn.add_argument("--vacuum", action="store_true", help="reap unreferenced data dirs")
    pn.add_argument("--keep", type=int, default=2, help="versions retained by --vacuum")
    pn.add_argument("--min-age", type=float, default=3600.0,
                    help="seconds a dir must age before --vacuum may reap it")
    pn.add_argument("--keep-hours", type=float, default=None,
                    help="--vacuum also retains versions committed in this window")
    pn.add_argument("--diff", nargs=2, type=int, metavar=("FROM", "TO"),
                    default=None, help="keyed CDC between two versions")
    pn.add_argument("--keys", default=None,
                    help="comma-separated key columns for --diff")
    pn.add_argument("--diff-out", default=None,
                    help="write --diff rows to this parquet path (else print count)")
    pn.add_argument("--merge", default=None,
                    help="parquet path of update rows to MERGE (upsert) by --keys")
    pn.add_argument("--delete-col", default=None,
                    help="boolean column in --merge rows marking deletes")
    pn.add_argument("--delete-where", default=None, metavar="SQL_PRED",
                    help="DELETE FROM ... WHERE: copy-on-write, only "
                         "matching dirs rewrite")
    pn.add_argument("--set", action="append", default=None,
                    metavar="COL=SQL_EXPR",
                    help="UPDATE ... SET assignment (repeatable; with "
                         "optional --where)")
    pn.add_argument("--where", default=None, metavar="SQL_PRED",
                    help="predicate for --set (default: all rows)")
    pn.add_argument("--compact", action="store_true",
                    help="rewrite the live set into right-sized files")
    pn.add_argument("--target-file-mb", type=int, default=128)
    pn.add_argument("--only-small-mb", type=int, default=None,
                    help="incremental compaction: only coalesce dirs under this size")
    pn.add_argument("--cluster-by", default=None,
                    help="comma-separated columns to range-sort the compaction by")
    pn.add_argument("--zorder-by", default=None,
                    help="comma-separated columns to Morton-interleave the "
                         "compaction by (multi-column file pruning)")
    pn.add_argument("--range", nargs=3, metavar=("COL", "LO", "HI"), default=None,
                    help="stats-pruned ranged read; prints the matching row count")
    pn.add_argument("--tail", default=None, metavar="DEST",
                    help="drain the change feed: write each batch to DEST/v{N} "
                         "(idempotent per to-version), cursor advances after the write")
    pn.add_argument("--cursor", default=None,
                    help="durable cursor directory for --tail (required with it)")
    pn.add_argument("--rounds", type=int, default=1,
                    help="tail rounds to run (with --poll-seconds between them)")
    pn.add_argument("--poll-seconds", type=float, default=5.0,
                    help="sleep between --tail rounds")
    pn.add_argument("--on-rewrite", default="raise", choices=["raise", "bootstrap"],
                    help="keyless --tail crossing a rewrite: refuse or full resync")
    pn.add_argument("--evolve-schema", action="store_true",
                    help="--commit may add NEW columns (schema evolution "
                         "intent; type conflicts are always rejected)")
    pn.add_argument("--set-constraint", action="append", default=None,
                    metavar="NAME=SQL_EXPR",
                    help="add a CHECK constraint (repeatable; validates "
                         "existing data first)")
    pn.add_argument("--no-validate", action="store_true",
                    help="--set-constraint enforces future writes only")
    pn.add_argument("--drop-constraint", default=None, metavar="NAME",
                    help="remove one named CHECK constraint")
    pn.add_argument("--constraints", action="store_true",
                    help="print the active CHECK constraints")
    pn.add_argument("--schema", action="store_true",
                    help="print the manifest-recorded table schema")
    pn.add_argument("--detail", action="store_true",
                    help="print the table's DESCRIBE dict (head version, "
                         "live dirs/files/bytes, schema, constraints)")
    pn.add_argument("--dry-run", action="store_true",
                    help="--vacuum reports what it WOULD delete, deletes nothing")

    pm = sub.add_parser(
        "mview",
        help="incrementally maintained materialized aggregate view "
             "(refresh folds only the source delta, exactly-once)",
    )
    pm.add_argument("--src", required=True, help="source snapshot table")
    pm.add_argument("--view", required=True, help="view snapshot table")
    pm.add_argument("--keys", required=True, help="comma-separated group-by keys")
    pm.add_argument(
        "--aggs",
        required=True,
        help="comma-separated out:fn[:input] specs, fn in "
             "count|sum|min|max|avg, e.g. n:count,total:sum:amount,mean:avg:amount",
    )
    pm.add_argument("--on-rewrite", default="recompute",
                    choices=["recompute", "raise"],
                    help="source range crossing a rewrite: full recompute or refuse")
    pm.add_argument("--derived-key", action="append", default=None,
                    metavar="NAME=SQL_EXPR",
                    help="grouping key the source doesn't materialize, e.g. "
                         "hour=date_trunc('hour', event_time); repeatable")
    pm.add_argument("--show", type=int, default=0,
                    help="print this many view rows after the refresh")

    pq = sub.add_parser(
        "models",
        help="run a dbt-style SQL model project (ref/source wiring, "
             "view/table/incremental materializations, schema.yml tests)",
    )
    pq.add_argument("--models-dir", required=True, help="directory of .sql models")
    pq.add_argument("--target", default=None,
                    help="warehouse dir for table/incremental models")
    pq.add_argument("--source", action="append", default=[],
                    metavar="NAME.TABLE=PATH",
                    help="bind {{ source('NAME','TABLE') }} to a parquet path; repeatable")
    pq.add_argument("--folder-default", action="append", default=[],
                    metavar="FOLDER=MATERIALIZATION",
                    help="dbt_project.yml-style folder default, e.g. marts=table; repeatable")
    pq.add_argument("--schema-yml", default=None,
                    help="dbt schema.yml whose model tests gate the run")
    pq.add_argument("--env", action="append", default=[], metavar="NAME=VAL",
                    help="env_var() binding; repeatable")
    pq.add_argument("--var", action="append", default=[], metavar="NAME=VAL",
                    help="var() binding; repeatable")
    pq.add_argument("--full-refresh", action="store_true",
                    help="rebuild incremental models from scratch")
    pq.add_argument("--threads", type=int, default=None,
                    help="models on the same dependency level build "
                         "concurrently (overrides --profiles-yml)")
    pq.add_argument("--profiles-yml", default=None,
                    help="dbt profiles.yml; its target's threads drive "
                         "the build concurrency")
    pq.add_argument("--snapshots", default=None,
                    help="file of dbt {%% snapshot %%} blocks to fold as SCD2 "
                         "history (runs BEFORE models so models may ref the "
                         "dimension state via source bindings)")
    pq.add_argument("--select", action="append", default=[],
                    metavar="NODE[+]|+NODE",
                    help="dbt node selection (name, name+, +name, +name+); "
                         "repeatable. Unselected materialized parents are "
                         "reused from disk, not rebuilt")
    pq.add_argument("--exclude", action="append", default=[],
                    metavar="NODE[+]|+NODE",
                    help="dbt node exclusion (same selector syntax as "
                         "--select), removed from the selection; repeatable")
    pq.add_argument("--seeds", default=None,
                    help="dbt seed-paths dir of CSVs, loaded as ref()-able "
                         "tables before models build")
    pq.add_argument("--project-yml", default=None,
                    help="dbt_project.yml; its models section supplies "
                         "folder materialization defaults "
                         "(--folder-default entries win)")

    args = p.parse_args(argv)
    spark = get_spark(f"bdp-{args.cmd}")
    spark.sparkContext.setLogLevel("WARN")

    if args.cmd == "ingest":
        from .streaming.ingest import (
            read_raw_stream_from_files,
            read_raw_stream_from_kafka,
            start_bronze_ingest,
        )

        if args.source.startswith("kafka:"):
            rest = args.source[len("kafka:"):]
            bootstrap, topic = rest.rsplit("/", 1)
            raw = read_raw_stream_from_kafka(spark, bootstrap, topic)
        else:
            raw = read_raw_stream_from_files(spark, args.source)
        q = start_bronze_ingest(raw, args.out, args.checkpoint, available_now=args.drain)
        q.awaitTermination()
        return 0

    if args.cmd == "backfill":
        from .jobs import daily_backfill_and_transform
        from .sources.rest_backfill import fake_fetcher_from_events

        report = daily_backfill_and_transform(
            spark,
            date.fromisoformat(args.date),
            args.symbols.split(","),
            fake_fetcher_from_events(),  # swap for a requests-based fetcher in production
            args.bronze,
            args.fact,
        )
        print(f"ingested={report.rows_ingested} appended={report.rows_appended} ok={report.ok}")
        return 0 if report.ok else 1

    if args.cmd == "transform":
        from .jobs import hourly_transform

        report = hourly_transform(spark, args.bronze, args.fact)
        print(f"appended={report.rows_appended} ok={report.ok}")
        return 0 if report.ok else 1

    if args.cmd == "revenue":
        from .operators.revenue import run as revenue_run
        from .sources.csv_rules import read_rules

        silver = spark.read.parquet(args.silver)
        fact = revenue_run(
            silver, read_rules(spark, args.rules_csv), date.fromisoformat(args.date), args.out
        )
        print(f"rows={fact.count()}")
        return 0

    if args.cmd == "index":
        from .operators.retrieval import build_retrieval_index

        docs = spark.read.parquet(args.docs)
        emb = spark.read.parquet(args.embeddings) if args.embeddings else None
        counts = build_retrieval_index(
            spark, docs, args.out, embeddings=emb,
            chunk_tokens=args.chunk_tokens,
            n_term_buckets=args.term_buckets, n_centroids=args.centroids,
            embed_dim=args.embed_dim,
        )
        print(" ".join(f"{k}={v}" for k, v in counts.items()))
        return 0

    if args.cmd == "search":
        from .operators.retrieval import hybrid_search, rerank, rm3_search

        queries = spark.createDataFrame(
            [("q1", args.query)], "query_id string, text string"
        )
        if args.rm3:
            res = rm3_search(spark, args.root, queries, k=args.k)
            res = res.withColumnRenamed("score", "rrf_score")
        else:
            res = hybrid_search(spark, args.root, queries, k=args.k)
        if args.rerank:
            res = rerank(spark, args.root, res, queries, k=args.k)
            score_col = "rerank_score"
        else:
            score_col = "rrf_score"
        for r in sorted(res.collect(), key=lambda r: r["rk"]):
            print(f"{r['rk']}\t{r['doc_id']}\t{r[score_col]:.6f}")
        return 0

    if args.cmd == "validate":
        from .operators.retrieval import validate_retrieval_root

        report = validate_retrieval_root(spark, args.root)
        print(" ".join(f"{k}={v}" for k, v in report.items()))
        bad = (
            not report["manifest_count_ok"]
            or report["n_unindexed_lexical"] > 0
            or report.get("n_unindexed_vector", 0) > 0
            or report.get("n_orphan_vectors", 0) > 0
        )
        return 1 if bad else 0

    if args.cmd == "eval":
        from .operators.evaluation import macro_metrics, retrieval_metrics
        from .operators.retrieval import hybrid_search, rm3_search

        queries = spark.read.parquet(args.queries)
        qrels = spark.read.parquet(args.qrels)
        search = rm3_search if args.rm3 else hybrid_search
        res = search(spark, args.root, queries, k=args.k)
        m = macro_metrics(retrieval_metrics(res, qrels, k=args.k)).first()
        print(
            f"n_queries={m['n_queries']} recall@{args.k}={m['recall']:.4f} "
            f"precision@{args.k}={m['precision']:.4f} mrr={m['mrr']:.4f} "
            f"ndcg@{args.k}={m['ndcg']:.4f}"
        )
        return 0

    if args.cmd == "topics":
        from .operators.clustering import discover_topics

        docs = spark.read.parquet(args.docs)
        assignments, kw = discover_topics(
            docs, k=args.k, embed_dim=args.embed_dim, top_terms=args.top_terms
        )
        out = args.out.rstrip("/")
        assignments.write.mode("overwrite").parquet(f"{out}/assignments.parquet")
        kw.write.mode("overwrite").parquet(f"{out}/keywords.parquet")
        n = spark.read.parquet(f"{out}/assignments.parquet").count()
        print(f"docs={n} clusters={args.k}")
        return 0

    if args.cmd == "audit":
        from .plans import all_queries, extended_queries
        from .plans.audit import audit_plan

        catalog = extended_queries() if args.extended else all_queries()

        # the two documented brute-force baselines pair every row by design
        exempt = {"embed_knn_brute", "embed_near_dups_brute"}
        n_err = 0
        for name, fn in sorted(catalog.items()):
            try:
                findings = audit_plan(fn(spark, args.sf_dir))
            except Exception as e:  # a query that can't even plan is an error
                print(f"{name}\tERROR\tplan failed: {e}")
                n_err += 1
                continue
            errors = [f for f in findings if f.severity == "error"]
            warns = [f for f in findings if f.severity == "warn"]
            if name in exempt:
                print(f"{name}\tEXEMPT\t{len(errors)} error(s) allowed (brute baseline)")
                continue
            if errors:
                n_err += 1
                for f in errors:
                    print(f"{name}\tERROR\t{f.code}: {f.message}")
            for f in warns:
                print(f"{name}\tWARN\t{f.code}: {f.message}")
            if not errors and not warns:
                print(f"{name}\tOK")
        print(f"audited={len(catalog)} errors={n_err}")
        return 1 if n_err else 0

    if args.cmd == "profile":
        from .operators.profile import profile_table

        prof = profile_table(spark.read.parquet(args.table), top_k=args.top_k)
        if args.out:
            prof.write.mode("overwrite").parquet(args.out)
        for r in prof.collect():
            tops = ", ".join(f"{t['value']}×{t['count']}" for t in r["top_values"][:3])
            print(
                f"{r['column']}\t{r['dtype']}\tnulls={r['n_nulls']}/{r['n_rows']}\t"
                f"distinct≈{r['n_distinct_est']}\t[{r['min_value']} .. {r['max_value']}]\t"
                f"top: {tops}"
            )
        return 0

    if args.cmd == "snapshot":
        from .operators.snapshots import (
            commit_snapshot,
            rollback_snapshot,
            snapshot_history,
            vacuum_snapshots,
        )

        if args.commit is not None:
            v = commit_snapshot(
                spark,
                args.table,
                spark.read.parquet(args.commit),
                mode=args.mode,
                bloom_cols=args.bloom_cols.split(",") if args.bloom_cols else None,
                bloom_bits=args.bloom_bits,
                evolve_schema=args.evolve_schema,
            )
            print(f"committed version={v}")
        if args.set_constraint:
            from .operators.snapshots import set_snapshot_constraints

            cons = {}
            for spec in args.set_constraint:
                name, _, expr = spec.partition("=")
                if not name or not expr:
                    raise SystemExit(f"--set-constraint wants NAME=SQL_EXPR, got {spec!r}")
                cons[name] = expr
            active = set_snapshot_constraints(
                spark, args.table, cons, validate=not args.no_validate
            )
            print(f"constraints active={sorted(active)}")
        if args.drop_constraint is not None:
            from .operators.snapshots import drop_snapshot_constraint

            active = drop_snapshot_constraint(spark, args.table, args.drop_constraint)
            print(f"constraints active={sorted(active)}")
        if args.constraints:
            from .operators.snapshots import get_snapshot_constraints

            for name, expr in sorted(get_snapshot_constraints(spark, args.table).items()):
                print(f"CHECK {name}: {expr}")
        if args.schema:
            from .operators.snapshots import table_schema

            for f in table_schema(spark, args.table).fields:
                print(f"{f.name}\t{f.dataType.simpleString()}")
        if args.detail:
            import json as _json

            from .operators.snapshots import snapshot_detail

            print(_json.dumps(snapshot_detail(spark, args.table), default=str))
        if args.lookup is not None:
            from .operators.snapshots import snapshot_lookup

            col, raw = args.lookup

            def _val(s: str):
                for cast in (int, float):
                    try:
                        return cast(s)
                    except ValueError:
                        pass
                return s

            n = snapshot_lookup(
                spark, args.table, col, [_val(x) for x in raw.split(",")]
            ).count()
            print(f"lookup {col} in ({raw}): {n} rows")
        if args.rollback is not None:
            v = rollback_snapshot(spark, args.table, args.rollback)
            print(f"rolled back to {args.rollback} as version={v}")
        if args.merge is not None:
            from .operators.snapshots import snapshot_merge

            if not args.keys:
                p.error("--merge requires --keys")
            v = snapshot_merge(
                spark,
                args.table,
                spark.read.parquet(args.merge),
                args.keys.split(","),
                delete_col=args.delete_col,
            )
            print(f"merged as version={v}")
        if args.delete_where is not None:
            from .operators.snapshots import snapshot_delete

            v = snapshot_delete(spark, args.table, args.delete_where)
            print(f"delete where {args.delete_where!r}: head version={v}")
        if args.set is not None:
            from .operators.snapshots import snapshot_update

            sets = {}
            for spec in args.set:
                if "=" not in spec:
                    p.error(f"bad --set {spec!r} (want COL=SQL_EXPR)")
                c, e = spec.split("=", 1)
                sets[c] = e
            v = snapshot_update(spark, args.table, sets, predicate=args.where)
            print(f"update set {sets} where {args.where!r}: head version={v}")
        if args.diff is not None:
            from pyspark.sql import functions as F

            from .operators.snapshots import snapshot_diff

            if not args.keys:
                p.error("--diff requires --keys")
            d = snapshot_diff(
                spark, args.table, args.keys.split(","), args.diff[0], args.diff[1]
            )
            if args.diff_out:
                d.write.mode("overwrite").parquet(args.diff_out)
                print(f"diff v{args.diff[0]}..v{args.diff[1]} -> {args.diff_out}")
            else:
                counts = {
                    r["_change_type"]: r["n"]
                    for r in d.groupBy("_change_type").agg(
                        F.count(F.lit(1)).alias("n")
                    ).collect()
                }
                print(f"diff v{args.diff[0]}..v{args.diff[1]}: " + " ".join(
                    f"{k}={counts.get(k, 0)}"
                    for k in ("insert", "delete", "update_preimage", "update_postimage")
                ))
        if args.range is not None:
            from .operators.snapshots import read_snapshot_range

            def _bound(s: str):
                # numeric-looking bounds compare against numeric stats;
                # anything else stays a string (dates, symbols)
                for cast in (int, float):
                    try:
                        return cast(s)
                    except ValueError:
                        pass
                return s

            col, lo, hi = args.range
            n = read_snapshot_range(
                spark, args.table, col, _bound(lo), _bound(hi)
            ).count()
            print(f"range {col} in [{lo}, {hi}]: {n} rows")
        if args.tail is not None:
            import time as _time

            from .operators.snapshots import snapshot_tail

            if not args.cursor:
                p.error("--tail requires --cursor")
            dest = args.tail.rstrip("/")

            def _apply(batch, frm, to, mode):
                # one dir per consumed head version: a redelivered range
                # (crash between write and cursor commit) overwrites the
                # same dir — the at-least-once dedupe the contract asks for
                batch.write.mode("overwrite").parquet(f"{dest}/v{to:011d}")
                print(f"tail {mode} v{frm}->v{to} -> {dest}/v{to:011d}")

            cur = snapshot_tail(
                spark,
                args.table,
                args.cursor,
                _apply,
                key_cols=args.keys.split(",") if args.keys else None,
                max_rounds=args.rounds,
                poll=lambda: _time.sleep(args.poll_seconds),
                on_rewrite=args.on_rewrite,
            )
            print(f"tail cursor={cur}")
        if args.compact:
            from .operators.snapshots import compact_snapshot

            v = compact_snapshot(
                spark,
                args.table,
                target_file_mb=args.target_file_mb,
                only_small_mb=args.only_small_mb,
                cluster_by=args.cluster_by.split(",") if args.cluster_by else None,
                zorder_by=args.zorder_by.split(",") if args.zorder_by else None,
            )
            print(f"compacted as version={v}")
        if args.vacuum:
            out = vacuum_snapshots(
                spark,
                args.table,
                keep_versions=args.keep,
                min_age_seconds=args.min_age,
                keep_hours=args.keep_hours,
                dry_run=args.dry_run,
            )
            print(" ".join(f"{k}={v}" for k, v in out.items()))
        for r in snapshot_history(spark, args.table).collect():
            print(
                f"v{r['version']}\t{r['operation']}\t{r['n_dirs']} dirs\t"
                f"committed_at={r['committed_at']:.3f}"
            )
        return 0

    if args.cmd == "mview":
        from .operators.mview import mview_read, mview_refresh

        aggs = {}
        for spec in args.aggs.split(","):
            parts = spec.split(":")
            if len(parts) == 2:
                aggs[parts[0]] = (parts[1], None)
            elif len(parts) == 3:
                aggs[parts[0]] = (parts[1], parts[2])
            else:
                p.error(f"bad agg spec {spec!r} (want out:fn[:input])")
        derived = None
        if args.derived_key:
            derived = {}
            for spec in args.derived_key:
                if "=" not in spec:
                    p.error(f"bad --derived-key {spec!r} (want NAME=SQL_EXPR)")
                name, sql = spec.split("=", 1)
                derived[name] = sql
        applied = mview_refresh(
            spark,
            args.src,
            args.view,
            args.keys.split(","),
            aggs,
            on_rewrite=args.on_rewrite,
            derived_keys=derived,
        )
        print(
            "already caught up"
            if applied is None
            else f"refreshed through source version={applied}"
        )
        if args.show:
            for r in mview_read(spark, args.view, aggs).limit(args.show).collect():
                print(r)
        return 0

    if args.cmd == "models":
        from .sql_models import (
            load_project,
            run_models,
            suite_from_dbt_schema,
            threads_from_profiles,
        )

        def _kv(items, what):
            out = {}
            for spec in items:
                if "=" not in spec:
                    p.error(f"bad {what} {spec!r} (want KEY=VALUE)")
                k, v = spec.split("=", 1)
                out[k] = v
            return out

        if args.snapshots:
            from .sql_models import run_dbt_snapshots

            with open(args.snapshots) as fh:
                snap_report = run_dbt_snapshots(
                    spark, fh.read(), sources=_kv(args.source, "--source"),
                    target_dir=args.target, env=_kv(args.env, "--env") or None,
                    vars=_kv(args.var, "--var") or None,
                )
            for name, info in snap_report.items():
                print(f"{name}\tscd2\trows={info['rows']}\topen={info['open_rows']}"
                      f"\tversion={info['version']}")

        if args.seeds:
            from .sql_models import run_seeds

            if not args.target:
                p.error("--seeds requires --target")
            for name, info in run_seeds(spark, args.seeds, args.target).items():
                print(f"{name}\tseed\trows={info['rows']}")

        # per-folder merge, CLI wins: a --folder-default for one folder
        # must not suppress dbt_project.yml defaults for OTHER folders
        # (the help text promises "--folder-default entries win", i.e.
        # an override, not a wholesale replacement)
        folder_defaults = _kv(args.folder_default, "--folder-default")
        if args.project_yml:
            from .sql_models import folder_defaults_from_project

            with open(args.project_yml) as fh:
                from_yml = folder_defaults_from_project(fh.read())
            folder_defaults = {**from_yml, **folder_defaults}
        folder_defaults = folder_defaults or None

        models = load_project(args.models_dir)
        tests = None
        if args.schema_yml:
            with open(args.schema_yml) as fh:
                text = fh.read()
            tests = {}
            for name in models:
                try:
                    suite = suite_from_dbt_schema(text, name)
                except ValueError:
                    continue
                if suite.get("columns"):
                    tests[name] = suite
        report = run_models(
            spark,
            models,
            sources=_kv(args.source, "--source"),
            target_dir=args.target,
            folder_defaults=folder_defaults,
            tests=tests,
            env=_kv(args.env, "--env") or None,
            vars=_kv(args.var, "--var") or None,
            full_refresh=args.full_refresh,
            select=args.select or None,
            exclude=args.exclude or None,
            threads=(
                args.threads
                if args.threads is not None
                else (
                    threads_from_profiles(open(args.profiles_yml).read())
                    if args.profiles_yml
                    else 1
                )
            ),
        )
        for name, info in report.items():
            ver = "" if info["version"] is None else f"\tversion={info['version']}"
            rows = "" if info["rows"] is None else f"\trows={info['rows']}"
            print(f"{name}\t{info['materialized']}{rows}{ver}")
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
