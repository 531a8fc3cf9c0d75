"""dbt-style SQL model DAG runner, Spark-first.

The reference ships its silver/gold layer as a dbt project — SQL models
wired by ``{{ ref() }}`` / ``{{ source() }}`` with per-model ``config()``
materialization and schema.yml tests (reference:
``dbt_project/models/staging/stg_binance_trades.sql:1-16`` (view),
``dbt_project/models/marts/fact_trades.sql:1-23`` (incremental with
``unique_key='trade_id'``, day partitioning, ``is_incremental()`` /
``{{ this }}`` high-watermark block), ``dbt_project/models/staging/
schema.yml`` (unique/not_null tests), ``dbt_project/dbt_project.yml``
(folder-level materialization defaults)). A user switching engines keeps
those .sql files; this module runs them.

Spark-first semantics, not a dbt reimplementation:

- **view** models never materialize: each becomes a temp view over its
  rendered ``spark.sql`` plan, so a downstream table model compiles the
  WHOLE view chain into one Catalyst plan — filters/projections push
  through every layer to the source scans, and nothing intermediate
  touches disk (dbt-on-warehouse pays a view resolution per layer; the
  plan fusion here is free).
- **table** models write parquet (optionally hive-partitioned) and
  re-register as views over the files.
- **incremental** models materialize as SNAPSHOT TABLES
  (``operators/snapshots.py``): the first build commits version 1; later
  runs render the ``is_incremental()`` block (``{{ this }}`` = the
  current table), and the delta upserts via ``snapshot_merge`` on
  ``unique_key`` (copy-on-write bounded to touched dirs — dbt's
  BigQuery MERGE behavior, but with time travel, CDC diff, constraints,
  and vacuum for free) or appends via ``commit_snapshot`` when no key is
  declared (dbt's append strategy).
- **streaming** models (extension) maintain their mart continuously
  from a snapshot table's change feed (``_run_streaming_model``) — the
  reference's hourly-dbt cadence made continuous.
- schema.yml tests compile onto ``quality.py``'s expectation suite and
  gate the run (``dbt run >> dbt test`` collapsed into one pass; a
  failing test raises before downstream models build).
- ``threads`` (dbt profiles.yml parity, reference declares 4):
  same-dependency-level models materialize concurrently as concurrent
  Spark actions.
- ``on_schema_change`` (dbt parity): ``ignore`` (default) /
  ``append_new_columns`` / ``fail`` when an incremental model's source
  adds columns mid-life.

Scale posture: the runner itself moves no data — it only sequences
Spark plans (topological order over the ref graph, cycle/missing-ref
errors name the offender). Materialization costs are the models' own;
incremental models inherit the snapshot tier's O(delta + touched dirs)
merge bound, and ``{{ this }}`` reads are manifest-resolved live sets.

BigQuery compatibility shim: ``float64``/``int64`` cast targets (the
reference's models use BQ type names) translate to Spark's
``double``/``bigint`` at render time so the reference's .sql files run
unmodified.
"""

from __future__ import annotations

import ast
import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .operators.snapshots import (
    _list_versions,
    commit_snapshot,
    read_snapshot,
    snapshot_merge,
)
from .quality import run_suite

_CONFIG_RE = re.compile(r"\{\{\s*config\s*\(", re.IGNORECASE)
_REF_RE = re.compile(r"\{\{\s*ref\s*\(\s*['\"](\w+)['\"]\s*\)\s*\}\}")
_SOURCE_RE = re.compile(r"\{\{\s*source\s*\(\s*['\"](\w+)['\"]\s*,\s*['\"](\w+)['\"]\s*\)\s*\}\}")
_THIS_RE = re.compile(r"\{\{\s*this\s*\}\}")
_ENV_RE = re.compile(r"\{\{\s*env_var\s*\(\s*['\"]([^'\"]+)['\"](?:\s*,\s*['\"]([^'\"]*)['\"])?\s*\)\s*\}\}")
_VAR_RE = re.compile(r"\{\{\s*var\s*\(\s*['\"]([^'\"]+)['\"](?:\s*,\s*([^)]+?))?\s*\)\s*\}\}")
_INCR_RE = re.compile(r"\{%\s*if\s+is_incremental\s*\(\s*\)\s*%\}(.*?)\{%\s*endif\s*%\}", re.DOTALL)
# BQ cast targets -> Spark (word-bounded, case-insensitive)
_BQ_TYPES = {"float64": "double", "int64": "bigint", "bool": "boolean"}


@dataclass
class Model:
    name: str
    raw_sql: str
    body: str                      # raw_sql minus the config() block
    config: dict = field(default_factory=dict)
    refs: tuple = ()
    sources: tuple = ()            # of (source_name, table_name)
    folder: str | None = None      # first path segment under models/, for folder defaults


def _split_config(sql: str) -> tuple[dict, str]:
    """Extract ``{{ config(...) }}`` (python-literal kwargs, balanced
    parens/braces) and return (config, sql with the block removed)."""
    m = _CONFIG_RE.search(sql)
    if not m:
        return {}, sql
    i, depth = m.end(), 1  # just past the opening paren
    while i < len(sql) and depth:
        ch = sql[i]
        if ch in "'\"":
            # skip the whole string literal — a paren/brace INSIDE a
            # config value (description="p95 (ms)") is not structure
            q, i = ch, i + 1
            while i < len(sql):
                if sql[i] == "\\":
                    i += 2
                    continue
                if sql[i] == q:
                    i += 1
                    break
                i += 1
            continue
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        i += 1
    if depth:
        raise ValueError("unterminated config() block")
    inner = sql[m.end(): i - 1]
    close = re.match(r"\s*\}\}", sql[i:])
    if not close:
        raise ValueError("config() block not closed with }}")
    end = i + close.end()
    call = ast.parse(f"f({inner})", mode="eval").body
    cfg = {}
    for kw in call.keywords:
        cfg[kw.arg] = ast.literal_eval(kw.value)
    return cfg, sql[: m.start()] + sql[end:]


def parse_model(name: str, sql: str, folder: str | None = None) -> Model:
    cfg, body = _split_config(sql)
    refs = tuple(dict.fromkeys(_REF_RE.findall(body)))
    sources = tuple(dict.fromkeys(_SOURCE_RE.findall(body)))
    return Model(name=name, raw_sql=sql, body=body, config=cfg, refs=refs,
                 sources=sources, folder=folder)


def load_project(models_dir: str) -> dict[str, Model]:
    """Every ``*.sql`` under ``models_dir`` (recursive); model name = file
    stem (dbt's rule), folder = first subdirectory (for folder defaults)."""
    models: dict[str, Model] = {}
    for root, _dirs, files in sorted(os.walk(models_dir)):
        for f in sorted(files):
            if not f.endswith(".sql"):
                continue
            name = f[: -len(".sql")]
            if name in models:
                raise ValueError(f"duplicate model name {name!r}")
            rel = os.path.relpath(root, models_dir)
            folder = None if rel == "." else rel.split(os.sep)[0]
            with open(os.path.join(root, f)) as fh:
                models[name] = parse_model(name, fh.read(), folder)
    if not models:
        raise ValueError(f"no .sql models under {models_dir}")
    return models


def topo_order(models: dict[str, Model], external: set[str] | None = None) -> list[str]:
    """Dependency order; unknown refs and cycles raise with the offender
    named (a silent skip would build a mart against a stale parent).
    ``external``: ref targets satisfied outside this run — e.g. a dimension
    built by ``run_dbt_snapshots`` earlier in the session."""
    ext = external or set()
    for m in models.values():
        for r in m.refs:
            if r not in models and r not in ext:
                raise ValueError(f"model {m.name!r} refs unknown model {r!r}")
    done: list[str] = []
    state: dict[str, int] = {}  # 1=visiting, 2=done

    def visit(n: str, chain: tuple):
        if state.get(n) == 2:
            return
        if state.get(n) == 1:
            cyc = " -> ".join(chain + (n,))
            raise ValueError(f"ref cycle: {cyc}")
        state[n] = 1
        for r in models[n].refs:
            if r not in ext:
                visit(r, chain + (n,))
        state[n] = 2
        done.append(n)

    for n in sorted(models):
        visit(n, ())
    return done


def _bq_type_shim(sql: str) -> str:
    for bq, sp in _BQ_TYPES.items():
        sql = re.sub(rf"\b{bq}\b", sp, sql, flags=re.IGNORECASE)
    return sql


def _view_name(model: str) -> str:
    return f"__bdp_model_{model}"


def _src_view_name(source: str, table: str) -> str:
    return f"__bdp_src_{source}__{table}"


def _stream_src_view_name(source: str, table: str) -> str:
    return f"__bdp_srcstream_{source}__{table}"


def _render(
    model: Model,
    incremental: bool,
    env: dict | None,
    vars: dict | None = None,
    stream_sources: bool = False,
) -> str:
    sql = model.body
    sql = _INCR_RE.sub((lambda m: m.group(1)) if incremental else "", sql)
    sql = _THIS_RE.sub(f"__bdp_this_{model.name}", sql)
    sql = _REF_RE.sub(lambda m: _view_name(m.group(1)), sql)
    src_name = _stream_src_view_name if stream_sources else _src_view_name
    sql = _SOURCE_RE.sub(lambda m: src_name(m.group(1), m.group(2)), sql)

    def env_sub(m):
        key, default = m.group(1), m.group(2)
        # an explicit env dict OVERLAYS the process environment (dbt's
        # env_var always sees the real environment; the dict is for tests
        # and parameterized runs, not a replacement)
        if env and key in env:
            return str(env[key])
        val = os.environ.get(key, default)
        if val is None:
            raise KeyError(f"env_var({key!r}) unset and no default")
        return val

    sql = _ENV_RE.sub(env_sub, sql)

    def var_sub(m):
        key, default = m.group(1), m.group(2)
        if vars and key in vars:
            return str(vars[key])
        if default is not None:
            d = default.strip()
            return d[1:-1] if d[:1] in "'\"" and d[:1] == d[-1:] else d
        raise KeyError(f"var({key!r}) not provided and no default")

    sql = _VAR_RE.sub(var_sub, sql)
    return _bq_type_shim(sql)


def _materialization(model: Model, folder_defaults: dict | None) -> str:
    mat = model.config.get("materialized")
    if mat is None and folder_defaults and model.folder in folder_defaults:
        mat = folder_defaults[model.folder]
    mat = mat or "view"
    if mat not in ("view", "table", "incremental", "streaming"):
        raise ValueError(f"model {model.name!r}: unsupported materialized={mat!r}")
    return mat


def _schema_change_policy(model: Model) -> str:
    """Validated ``on_schema_change`` value — checked on EVERY run of an
    incremental model (a config typo or the unsupported
    ``sync_all_columns`` must fail the first build, not lie dormant
    until the source's schema actually drifts)."""
    policy = model.config.get("on_schema_change", "ignore")
    if policy == "sync_all_columns":
        raise ValueError(
            f"model {model.name!r}: on_schema_change='sync_all_columns' is "
            "unsupported — dropping departed columns would rewrite the "
            "snapshot table's history dirs; use 'append_new_columns' and "
            "stop selecting the departed columns downstream"
        )
    if policy not in ("ignore", "append_new_columns", "fail"):
        raise ValueError(
            f"model {model.name!r}: unsupported on_schema_change={policy!r}"
        )
    return policy


def _apply_on_schema_change(
    spark: SparkSession, model: Model, path: str, delta: DataFrame
) -> DataFrame:
    """dbt's ``on_schema_change`` policy for incremental models, applied
    when the rendered delta's columns diverge from the existing table:

    - ``ignore`` (dbt's default, ours too): new columns are DROPPED from
      the delta — the table keeps its schema. (Before round 8 the merge
      silently union-evolved; dbt parity makes evolution opt-in.)
    - ``append_new_columns``: new columns evolve the table schema
      (snapshot_merge's union semantics / commit evolve_schema); prior
      rows read as NULL under merge_schema.
    - ``fail``: raise, naming the model and the offending columns.
    - ``sync_all_columns`` is intentionally unsupported: it also DROPS
      departed columns, which would rewrite history dirs — raise with
      that explanation rather than half-implement it.

    Columns the table has but the delta lacks are always fine (the
    snapshot tier reads them as typed NULLs for new rows)."""
    policy = _schema_change_policy(model)
    existing = set(read_snapshot(spark, path, merge_schema=True).columns)
    new_cols = [c for c in delta.columns if c not in existing]
    if not new_cols:
        return delta
    if policy == "fail":
        raise ValueError(
            f"model {model.name!r}: source added column(s) {new_cols} and "
            "on_schema_change='fail'"
        )
    if policy == "ignore":
        return delta.select(*[c for c in delta.columns if c in existing])
    return delta  # append_new_columns: let the merge/commit evolve


def _streaming_model_writer(
    spark: SparkSession,
    model: Model,
    sources: dict,
    path: str,
    env: dict | None,
    vars: dict | None,
):
    """``materialized='streaming'``: the model maintains its mart
    CONTINUOUSLY from its sources' snapshot change feeds instead of
    being rebuilt on a cadence — the reference's hourly-dbt loop
    (airflow/dags/run_dbt_models.py) collapsed into Structured
    Streaming. Each ``source()`` must be a SNAPSHOT TABLE path; it
    registers as a ``format("snapshot_table")`` streaming read (one
    micro-batch per committed version range), the model SQL transforms
    the stream (``ref()`` models join in as the static side), and the
    result lands in the model's own snapshot table via
    ``streaming_snapshot_append`` — exactly-once across restarts (the
    engine's checkpoint carries the version cursor; a replayed batch
    appends nothing).

    Inside ``run_models`` the stream drains what's AVAILABLE and stops
    (dbt's run-to-completion contract, but the increment is the change
    feed itself — no ``is_incremental()`` watermark to maintain); for an
    always-on deployment, start the same checkpointed query with a
    processing-time trigger. Constraints, enforced loudly: the SQL must
    be stream-transformable (projections/filters/stream-static joins —
    unbounded aggregations would need a different output mode);
    ``{{ this }}`` / ``is_incremental()`` don't apply; a source rewrite
    (compaction/overwrite) raises the change-feed's resync error rather
    than double-counting."""
    if _INCR_RE.search(model.body):
        raise ValueError(
            f"streaming model {model.name!r} uses is_incremental() — the "
            "change feed already is the increment"
        )
    if _THIS_RE.search(model.body):
        raise ValueError(f"streaming model {model.name!r}: {{{{ this }}}} unsupported")
    if not model.sources:
        raise ValueError(
            f"streaming model {model.name!r} needs at least one source() "
            "pointing at a snapshot table"
        )
    from .operators.snapshots import streaming_snapshot_append
    from .sources.snapshot_source import register_snapshot_source

    register_snapshot_source(spark)
    for s, t in model.sources:
        src = sources.get(f"{s}.{t}")
        if not isinstance(src, str) or not _list_versions(spark, src):
            raise ValueError(
                f"streaming model {model.name!r}: source {s}.{t} must be a "
                "snapshot-table PATH (the change feed comes from its "
                "version history); got "
                f"{'a DataFrame' if isinstance(src, DataFrame) else repr(src)}"
            )
        (
            spark.readStream.format("snapshot_table")
            .option("path", src)
            .load()
            .createOrReplaceTempView(_stream_src_view_name(s, t))
        )
    sdf = spark.sql(
        _render(model, incremental=False, env=env, vars=vars, stream_sources=True)
    )
    if not sdf.isStreaming:
        raise ValueError(f"streaming model {model.name!r} compiled to a batch plan")
    return streaming_snapshot_append(sdf, path, f"{path}__checkpoint"), sdf.schema


def _run_streaming_model(
    spark: SparkSession,
    model: Model,
    sources: dict,
    path: str,
    env: dict | None,
    vars: dict | None,
) -> int | None:
    """Drain-available-and-stop leg of a streaming model (what
    ``run_models`` calls — dbt's run-to-completion contract over the
    change feed).

    availableNow over the Python ``snapshot_table`` source degrades to
    SINGLE-BATCH execution (engine fallback, warning-only) — harmless
    here because the change feed has no rate limit to lose: one batch
    spanning all pending versions is semantically identical to several
    (exactly-once rides the version offsets either way). Rate-limited
    Python sources (kafka_wire) must NOT take this path — see
    ``streaming.ingest.start_bronze_ingest``'s guard."""
    pre = _list_versions(spark, path)
    writer, schema = _streaming_model_writer(spark, model, sources, path, env, vars)
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()
    post = _list_versions(spark, path)
    if not post:
        # source existed but carried no rows yet: commit an empty typed
        # snapshot so the model's view (and downstream refs) still serve
        return commit_snapshot(
            spark, path, spark.createDataFrame([], schema),
            mode="overwrite", operation=f"model:{model.name}:init",
        )
    return post[-1] if post != pre else None


def run_models(
    spark: SparkSession,
    models: dict[str, Model] | dict[str, str] | str,
    sources: dict | None = None,
    target_dir: str | None = None,
    folder_defaults: dict | None = None,
    tests: dict | None = None,
    env: dict | None = None,
    vars: dict | None = None,
    full_refresh: bool = False,
    threads: int = 1,
    select: list[str] | None = None,
    exclude: list[str] | None = None,
) -> dict[str, dict]:
    """Build every model in dependency order. Returns a per-model report
    ``{name: {"materialized", "rows", "version"|None}}``.

    - ``models``: a dir path (``load_project``), ``{name: sql}`` strings,
      or pre-parsed ``Model``s.
    - ``sources``: ``{"source.table": DataFrame | parquet_path}`` for
      every ``{{ source(...) }}`` used.
    - ``target_dir``: required when any model materializes as
      table/incremental — table parquet and snapshot tables land at
      ``{target_dir}/{model}``.
    - ``folder_defaults``: dbt_project.yml's folder-level defaults, e.g.
      ``{"staging": "view", "marts": "table"}`` — model-level config wins.
    - ``tests``: ``{model: quality suite dict}`` (``quality.compile_suite``
      shape, or the dbt schema.yml shape via ``suite_from_dbt_schema``)
      run right after the model builds, ``fail_fast`` — downstream models
      never build on a failed parent.
    - ``full_refresh``: rebuild incremental models from scratch (dbt's
      ``--full-refresh``).
    - ``threads``: dbt's profiles.yml ``threads`` (the reference declares
      4 — dbt_project/profiles.yml:11). Models on the same dependency
      LEVEL materialize concurrently: Spark's scheduler happily runs
      concurrent actions, so two independent marts keep the cluster busy
      instead of building back-to-back. Failures still name the model;
      a failed level never starts the next (downstream models never
      build against a failed parent).
    - ``select``: dbt node selection — ``name`` / ``name+`` (descendants)
      / ``+name`` (ancestors) / ``+name+``. Unselected VIEW parents still
      compile (free — they fuse into the selected plan); unselected
      table/incremental/streaming parents REUSE their existing
      materialization from disk (``"reused": True`` in the report) and
      raise, named, if never built.
    - ``exclude``: dbt's complement — the same selector syntax, removed
      from the selection (from ALL models when ``select`` is unset).
      Excluded nodes follow the unselected-parent rules above.
    """
    if isinstance(models, str):
        parsed = load_project(models)
    else:
        parsed = {
            n: (m if isinstance(m, Model) else parse_model(n, m))
            for n, m in models.items()
        }
    # refs satisfied by an ALREADY-REGISTERED relation (a dimension from
    # run_dbt_snapshots earlier in the session) count as external deps
    external = {
        r
        for m in parsed.values()
        for r in m.refs
        if r not in parsed and spark.catalog.tableExists(_view_name(r))
    }
    order = topo_order(parsed, external=external)

    for key, src in (sources or {}).items():
        sname, tname = key.split(".", 1)
        if isinstance(src, DataFrame):
            df = src
        elif _list_versions(spark, src):
            # a snapshot-table path: batch view = the manifest-resolved
            # live set (raw spark.read.parquet over the table dir would
            # scan dead dirs and version metadata)
            df = read_snapshot(spark, src)
        else:
            df = spark.read.parquet(src)
        df.createOrReplaceTempView(_src_view_name(sname, tname))
    for m in parsed.values():
        for s, t in m.sources:
            if f"{s}.{t}" not in (sources or {}):
                raise ValueError(f"model {m.name!r} needs source {s}.{t}, not provided")

    selected = _expand_select(parsed, select) if select else None
    if exclude:
        base = selected if selected is not None else set(parsed)
        selected = base - _expand_select(parsed, exclude)
    if selected is not None:
        # process only the selection plus its ancestry (parents must
        # resolve as refs); unrelated branches are never touched
        needed = set(selected)
        stack = list(selected)
        while stack:
            for r in parsed[stack.pop()].refs:
                if r in parsed and r not in needed:
                    needed.add(r)
                    stack.append(r)
        order = [n for n in order if n in needed]

    def _build(name: str) -> dict:
        model = parsed[name]
        mat = _materialization(model, folder_defaults)
        if selected is not None and name not in selected and mat != "view":
            # unselected materialized parent: REUSE what's on disk (dbt's
            # deferred-state behavior) — never silently rebuild, never
            # silently serve nothing
            path = f"{target_dir}/{name}" if target_dir else None
            if mat == "table":
                try:
                    spark.read.parquet(path).createOrReplaceTempView(_view_name(name))
                except Exception as e:
                    raise ValueError(
                        f"--select excludes {name!r} but its table was never "
                        f"built at {path}; build it first or widen the selection"
                    ) from e
            else:  # incremental / streaming -> snapshot table
                if not path or not _list_versions(spark, path):
                    raise ValueError(
                        f"--select excludes {name!r} but its snapshot table was "
                        f"never built at {path}; build it first or widen the selection"
                    )
                read_snapshot(spark, path).createOrReplaceTempView(_view_name(name))
            return {"materialized": mat, "rows": None, "version": None, "reused": True}
        if mat in ("table", "incremental", "streaming") and not target_dir:
            raise ValueError(f"model {name!r} materializes as {mat} but target_dir is unset")
        path = f"{target_dir}/{name}" if target_dir else None
        partition_by = None
        pb = model.config.get("partition_by")
        if pb:
            partition_by = [pb["field"] if isinstance(pb, dict) else str(pb)]
        version = None

        if mat == "view":
            df = spark.sql(_render(model, incremental=False, env=env, vars=vars))
            df.createOrReplaceTempView(_view_name(name))
        elif mat == "table":
            df = spark.sql(_render(model, incremental=False, env=env, vars=vars))
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(path)
            spark.read.parquet(path).createOrReplaceTempView(_view_name(name))
        elif mat == "streaming":
            version = _run_streaming_model(
                spark, model, sources or {}, path, env=env, vars=vars
            )
            read_snapshot(spark, path).createOrReplaceTempView(_view_name(name))
        else:  # incremental -> snapshot table
            _schema_change_policy(model)  # typos fail on the FIRST build
            _strategy = model.config.get("incremental_strategy")
            if _strategy not in (None, "merge", "append", "insert_overwrite"):
                raise ValueError(
                    f"model {name!r}: unsupported incremental_strategy="
                    f"{_strategy!r} (merge | append | insert_overwrite)"
                )
            # existence probe goes through the snapshot tier's Hadoop FS
            # listing, not os.path — the table path accepts any scheme
            # (hdfs://, s3a://); a local-only probe would silently
            # full-refresh on every run against a remote warehouse
            exists = bool(_list_versions(spark, path)) and not full_refresh
            if not exists:
                df = spark.sql(_render(model, incremental=False, env=env, vars=vars))
                version = commit_snapshot(
                    spark, path, df, mode="overwrite", partition_by=partition_by,
                    operation=f"model:{name}:full",
                )
            else:
                # merge_schema: after append_new_columns evolution the
                # untouched dirs keep the old schema — a plain read
                # resolves to an arbitrary footer and can DROP the new
                # column nondeterministically
                read_snapshot(spark, path, merge_schema=True).createOrReplaceTempView(
                    f"__bdp_this_{name}"
                )
                delta = spark.sql(_render(model, incremental=True, env=env, vars=vars))
                if delta.isEmpty():
                    # an empty delta must not churn a table version — a
                    # cadence-scheduled model with no new source rows would
                    # otherwise mint a metadata-only commit per run,
                    # bloating history and vacuum work
                    read_snapshot(spark, path, merge_schema=True).createOrReplaceTempView(
                        _view_name(name)
                    )
                    out = spark.table(_view_name(name))
                    if tests and name in tests:
                        run_suite(out, tests[name], fail_fast=True)
                    return {"materialized": mat, "rows": out.count(), "version": None}
                delta = _apply_on_schema_change(spark, model, path, delta)
                evolve = model.config.get("on_schema_change") == "append_new_columns"
                key = model.config.get("unique_key")
                strategy = model.config.get(
                    "incremental_strategy", "merge" if key else "append"
                )
                if strategy == "insert_overwrite":
                    # dbt-BigQuery's partition-replacement strategy: the
                    # delta's partitions are replaced WHOLE, atomically
                    # (snapshot_replace_where — Delta's replaceWhere).
                    # Bounded driver work: only distinct partition VALUES
                    # collect, never rows.
                    if not partition_by:
                        raise ValueError(
                            f"model {name!r}: incremental_strategy="
                            "'insert_overwrite' requires partition_by"
                        )
                    from pyspark.sql import functions as F

                    pcol = partition_by[0]
                    # bounded driver work, made explicit: cap the distinct
                    # partition-value collect so a mis-keyed partition_by
                    # (e.g. a timestamp at second grain) fails with a
                    # named error instead of building a huge isin literal
                    cap = int(model.config.get("insert_overwrite_max_partitions", 10000))
                    vals = [
                        r[pcol]
                        for r in delta.select(pcol).distinct().limit(cap + 1).collect()
                    ]
                    if len(vals) > cap:
                        raise ValueError(
                            f"model {name!r}: insert_overwrite delta spans "
                            f">{cap} distinct {pcol!r} partitions — the "
                            "strategy replaces partitions WHOLE and is meant "
                            "for date-grain keys; use a coarser partition_by "
                            "or incremental_strategy='merge' (raise the cap "
                            "with config insert_overwrite_max_partitions)"
                        )
                    # NULL partition values: isin(NULL) evaluates NULL, so
                    # the predicate guard would fire with an opaque error
                    # and existing NULL-partition rows could never be
                    # replaced — OR isNull into the predicate instead
                    # (dbt-BigQuery's null-partition handling)
                    non_null = [v for v in vals if v is not None]
                    predicate = F.col(pcol).isin(non_null)
                    if len(non_null) < len(vals):
                        predicate = predicate | F.col(pcol).isNull()
                    from .operators.snapshots import snapshot_replace_where

                    version = snapshot_replace_where(
                        spark, path, predicate, delta,
                        partition_by=partition_by, evolve_schema=evolve,
                    )
                elif strategy == "merge":
                    if not key:
                        raise ValueError(
                            f"model {name!r}: incremental_strategy='merge' "
                            "requires unique_key"
                        )
                    keys = [key] if isinstance(key, str) else list(key)
                    version = snapshot_merge(
                        spark, path, delta, key_cols=keys,
                        partition_by=partition_by, operation=f"model:{name}:incr",
                    )
                elif strategy == "append":
                    version = commit_snapshot(
                        spark, path, delta, mode="append", partition_by=partition_by,
                        operation=f"model:{name}:append", evolve_schema=evolve,
                    )
                else:
                    raise ValueError(
                        f"model {name!r}: unsupported incremental_strategy="
                        f"{strategy!r} (merge | append | insert_overwrite)"
                    )
            read_snapshot(spark, path, merge_schema=True).createOrReplaceTempView(
                _view_name(name)
            )

        out = spark.table(_view_name(name)) if mat != "view" else df
        if tests and name in tests:
            run_suite(out, tests[name], fail_fast=True)
        return {
            "materialized": mat,
            "rows": out.count() if mat != "view" else None,
            "version": version,
        }

    # dependency levels: every model builds strictly after its refs;
    # models on the SAME level share no ref path and may build
    # concurrently (topo order guarantees refs appear before dependents)
    level: dict[str, int] = {}
    for n in order:
        level[n] = 1 + max(
            (level[r] for r in parsed[n].refs if r in parsed), default=0
        )

    results: dict[str, dict] = {}
    for lv in sorted(set(level.values())):
        batch = [n for n in order if level[n] == lv]
        if threads <= 1 or len(batch) == 1:
            for n in batch:
                results[n] = _build(n)
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=threads) as ex:
                futures = {n: ex.submit(_build, n) for n in batch}
                failures: list[tuple[str, Exception]] = []
                for n in batch:
                    try:
                        results[n] = futures[n].result()
                    except Exception as e:  # noqa: BLE001 — named re-raise below
                        failures.append((n, e))
            if failures:
                n, e = failures[0]
                raise RuntimeError(f"model {n!r} failed: {e}") from e
    return {n: results[n] for n in order}


def model_df(spark: SparkSession, name: str) -> DataFrame:
    """The built model's DataFrame (after ``run_models``)."""
    return spark.table(_view_name(name))


_SNAPSHOT_BLOCK_RE = re.compile(
    r"\{%\s*snapshot\s+(\w+)\s*%\}(.*?)\{%\s*endsnapshot\s*%\}", re.DOTALL
)


def run_dbt_snapshots(
    spark: SparkSession,
    text: str,
    sources: dict | None = None,
    target_dir: str | None = None,
    env: dict | None = None,
    vars: dict | None = None,
) -> dict[str, dict]:
    """dbt ``snapshots/`` blocks (``{% snapshot name %} config + SELECT
    {% endsnapshot %}``) — the reference project reserves the directory
    (``dbt_project/dbt_project.yml`` snapshot-paths) — maintained as SCD
    Type 2 history via ``operators/scd.py::scd2_merge`` and STORED as a
    snapshot table (run-level time travel on top of row-level history).

    Strategy mapping:
    - ``strategy='check'``: ``check_cols`` (list, or ``'all'`` = every
      non-key column) are the tracked attributes; the effective
      timestamp is the run time (dbt's dbt_updated_at). Unchanged
      re-deliveries collapse (idempotent re-runs).
    - ``strategy='timestamp'``: ``updated_at`` is the effective
      timestamp; tracked attributes are all non-key, non-ts columns.
      Divergence from dbt, documented: a newer ``updated_at`` with
      byte-identical attributes does NOT open a new version here
      (no-change rows collapse — dbt would version the timestamp churn).

    Returns ``{name: {"version", "rows", "open_rows"}}``."""
    from .operators.scd import scd2_merge

    blocks = _SNAPSHOT_BLOCK_RE.findall(text)
    if not blocks:
        raise ValueError("no {% snapshot %} blocks found")
    if not target_dir:
        raise ValueError("target_dir required for dbt snapshots")
    for key, src in (sources or {}).items():
        sname, tname = key.split(".", 1)
        df = src if isinstance(src, DataFrame) else spark.read.parquet(src)
        df.createOrReplaceTempView(_src_view_name(sname, tname))

    report: dict[str, dict] = {}
    for name, body in blocks:
        model = parse_model(name, body)
        if model.refs:
            raise ValueError(
                f"snapshot {name!r} uses ref() — build it from sources; "
                "model views don't exist at snapshot time"
            )
        cfg = model.config
        key = cfg.get("unique_key")
        if not key:
            raise ValueError(f"snapshot {name!r}: unique_key is required")
        keys = [key] if isinstance(key, str) else list(key)
        strategy = cfg.get("strategy", "check")
        updates = spark.sql(_render(model, incremental=False, env=env, vars=vars))

        if strategy == "timestamp":
            ts_col = cfg.get("updated_at")
            if not ts_col or ts_col not in updates.columns:
                raise ValueError(f"snapshot {name!r}: updated_at column missing")
            tracked = [c for c in updates.columns if c not in keys and c != ts_col]
        elif strategy == "check":
            from pyspark.sql import functions as F

            check = cfg.get("check_cols", "all")
            tracked = (
                [c for c in updates.columns if c not in keys]
                if check == "all"
                else list(check)
            )
            ts_col = "__run_ts"
            updates = updates.withColumn(ts_col, F.current_timestamp())
        else:
            raise ValueError(f"snapshot {name!r}: unsupported strategy {strategy!r}")
        if not tracked:
            raise ValueError(f"snapshot {name!r}: no tracked columns")

        path = f"{target_dir}/{name}"
        # FS-aware probe (any scheme): an os.path check on hdfs:///s3a://
        # would always be False and the overwrite commit would discard
        # the existing SCD2 history
        dim = read_snapshot(spark, path) if _list_versions(spark, path) else None
        merged = scd2_merge(dim, updates, keys, tracked, ts_col=ts_col)
        version = commit_snapshot(
            spark, path, merged, mode="overwrite", operation=f"dbt_snapshot:{name}"
        )
        out = read_snapshot(spark, path)
        out.createOrReplaceTempView(_view_name(name))
        report[name] = {
            "version": version,
            "rows": out.count(),
            "open_rows": out.where("is_current").count(),
        }
    return report


def _expand_select(parsed: dict[str, Model], select: list[str]) -> set[str]:
    """dbt node selection: ``name`` (just it), ``name+`` (it and every
    descendant), ``+name`` (it and every ancestor), ``+name+`` (both).
    Unknown names raise. Returns the selected node set."""
    children: dict[str, set[str]] = {n: set() for n in parsed}
    for m in parsed.values():
        for r in m.refs:
            if r in parsed:
                children[r].add(m.name)

    def walk(start: str, edges) -> set[str]:
        seen, stack = set(), [start]
        while stack:
            n = stack.pop()
            if n in seen:
                continue
            seen.add(n)
            stack.extend(edges(n))
        return seen

    out: set[str] = set()
    for tok in select:
        up, name, down = tok.startswith("+"), tok.strip("+"), tok.endswith("+")
        if name not in parsed:
            raise ValueError(f"--select {tok!r}: unknown model {name!r}")
        out.add(name)
        if down:
            out |= walk(name, lambda n: children[n])
        if up:
            out |= walk(name, lambda n: (r for r in parsed[n].refs if r in parsed))
    return out


def run_seeds(
    spark: SparkSession, seeds_dir: str, target_dir: str
) -> dict[str, dict]:
    """dbt ``seed-paths`` parity (the reference project reserves the
    directory — dbt_project/dbt_project.yml ``seed-paths: ["seeds"]``):
    every ``*.csv`` under ``seeds_dir`` loads as a TABLE (header row +
    type inference, dbt's agate behavior), lands as parquet at
    ``{target_dir}/{name}``, and registers under the model view name so
    ``{{ ref('seed_name') }}`` resolves from any model in the session
    (``run_models`` counts pre-registered relations as external refs).
    Returns ``{name: {"rows", "path"}}``."""
    import os as _os

    report: dict[str, dict] = {}
    for root, _dirs, files in sorted(_os.walk(seeds_dir)):
        for f in sorted(files):
            if not f.endswith(".csv"):
                continue
            name = f[: -len(".csv")]
            if name in report:
                raise ValueError(f"duplicate seed name {name!r}")
            df = spark.read.csv(
                _os.path.join(root, f), header=True, inferSchema=True
            )
            path = f"{target_dir}/{name}"
            df.write.mode("overwrite").parquet(path)
            out = spark.read.parquet(path)
            out.createOrReplaceTempView(_view_name(name))
            report[name] = {"rows": out.count(), "path": path}
    if not report:
        raise ValueError(f"no .csv seeds under {seeds_dir}")
    return report


def folder_defaults_from_project(text: str) -> dict[str, str]:
    """dbt ``dbt_project.yml`` → ``run_models``' ``folder_defaults``:
    reads ``models: {<project>: {<folder>: {+materialized: ...}}}`` (the
    reference's exact shape — staging view / marts table). Nested
    folders flatten to their first segment (matching ``load_project``'s
    folder attribution)."""
    import yaml

    doc = yaml.safe_load(text) or {}
    models = doc.get("models") or {}
    out: dict[str, str] = {}
    for _project, folders in models.items():
        if not isinstance(folders, dict):
            continue
        for folder, cfg in folders.items():
            if isinstance(cfg, dict) and "+materialized" in cfg:
                out[folder] = cfg["+materialized"]
    return out


def threads_from_profiles(text: str, profile: str | None = None) -> int:
    """dbt ``profiles.yml`` → the runner's ``threads`` (the reference
    declares ``threads: 4`` — dbt_project/profiles.yml:11). Reads the
    named profile (or the first non-config one), its ``target`` output
    (or the sole/first output). Missing threads → 1 (dbt's floor)."""
    import yaml

    doc = yaml.safe_load(text) or {}
    for name, body in doc.items():
        if name == "config" or not isinstance(body, dict):
            continue
        if profile is not None and name != profile:
            continue
        outputs = body.get("outputs") or {}
        out = outputs.get(body.get("target"))
        if out is None and outputs:
            out = next(iter(outputs.values()))
        if isinstance(out, dict) and "threads" in out:
            return max(int(out["threads"]), 1)
        return 1
    if profile is not None:
        raise ValueError(f"profile {profile!r} not found in profiles.yml")
    return 1


def suite_from_dbt_schema(text: str, model: str) -> dict:
    """Convert a dbt ``schema.yml`` (``models: [{name, columns: [{name,
    tests: [...]}]}]`` — reference ``dbt_project/models/staging/
    schema.yml``) into the ``quality.compile_suite`` shape for one model.
    Supported tests: unique, not_null, accepted_values (values list)."""
    import yaml

    doc = yaml.safe_load(text) or {}
    for m in doc.get("models") or []:
        if m.get("name") != model:
            continue
        suite: dict = {"columns": {}}
        for col in m.get("columns") or []:
            exps = []
            for t in col.get("tests") or []:
                if isinstance(t, str):
                    if t not in ("unique", "not_null"):
                        raise ValueError(f"unsupported dbt test {t!r}")
                    exps.append(t)
                elif isinstance(t, dict) and "accepted_values" in t:
                    exps.append({"accepted_values": {"values": t["accepted_values"]["values"]}})
                else:
                    raise ValueError(f"unsupported dbt test {t!r}")
            if exps:
                suite["columns"][col["name"]] = exps
        return suite
    raise ValueError(f"model {model!r} not found in schema.yml")
