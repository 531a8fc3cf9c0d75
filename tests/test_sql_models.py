"""SQL model DAG runner (sql_models.py) — the dbt-project workflow the
reference ships (dbt_project/models/*: ref()/source() wiring, config()
materializations incl. incremental with unique_key + is_incremental()/
{{ this }} watermark, schema.yml tests, folder defaults). Models here are
reference-SHAPED (same constructs over this corpus's columns), not copies."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from binance_data_pipeline_spark.sql_models import (
    load_project,
    model_df,
    parse_model,
    run_models,
    suite_from_dbt_schema,
    topo_order,
)

# Reference-shaped models (dbt_project/models/staging/stg_binance_trades.sql
# and marts/fact_trades.sql): staging view renames/casts with BQ type names,
# mart is incremental on unique_key with an is_incremental() watermark.
STAGING_SQL = """
with source as (
    select * from {{ source('bronze', 'trades_raw') }}
),
renamed as (
    select
        cast(trade_id as string) as trade_id,
        symbol,
        event_time,
        cast(price as float64) as price,
        cast(quantity as float64) as quantity,
        date(event_time) as event_date
    from source
)
select * from renamed
"""

MART_SQL = """
{{
    config(
        materialized='incremental',
        unique_key='trade_id',
        partition_by={
            "field": "event_date",
            "data_type": "date",
            "granularity": "day"
        }
    )
}}
select
    trade_id, symbol, event_time, event_date, price, quantity,
    (price * quantity) as total_notional
from {{ ref('stg_trades') }}
{% if is_incremental() %}
  where event_time > (select max(event_time) from {{ this }})
{% endif %}
"""


def _bronze(spark, rows):
    return spark.createDataFrame(
        rows, "trade_id long, symbol string, event_time timestamp, price string, quantity string"
    ).withColumn("event_time", F.col("event_time"))


ROWS_V1 = [
    (1, "BTCUSDT", "2024-06-10 10:00:00", "100.0", "2.0"),
    (2, "BTCUSDT", "2024-06-10 11:00:00", "101.0", "1.0"),
    (3, "ETHUSDT", "2024-06-11 09:00:00", "50.0", "4.0"),
]
# run 2: one brand-new trade + one UPDATE of trade 2 (newer event_time)
ROWS_V2 = ROWS_V1 + [
    (4, "ETHUSDT", "2024-06-12 08:00:00", "55.0", "1.0"),
    (2, "BTCUSDT", "2024-06-12 09:00:00", "999.0", "1.0"),
]


def _rows(spark, raw):
    import datetime as dt

    conv = [
        (t, s, dt.datetime.fromisoformat(ts), p, q) for (t, s, ts, p, q) in raw
    ]
    return _bronze(spark, conv)


MODELS = {"stg_trades": STAGING_SQL, "fct_trades": MART_SQL}


def test_parse_and_topo():
    parsed = {n: parse_model(n, s) for n, s in MODELS.items()}
    assert parsed["fct_trades"].refs == ("stg_trades",)
    assert parsed["stg_trades"].sources == (("bronze", "trades_raw"),)
    cfg = parsed["fct_trades"].config
    assert cfg["materialized"] == "incremental" and cfg["unique_key"] == "trade_id"
    assert cfg["partition_by"]["field"] == "event_date"
    assert topo_order(parsed) == ["stg_trades", "fct_trades"]

    cyc = {
        "a": parse_model("a", "select * from {{ ref('b') }}"),
        "b": parse_model("b", "select * from {{ ref('a') }}"),
    }
    with pytest.raises(ValueError, match="cycle"):
        topo_order(cyc)
    with pytest.raises(ValueError, match="unknown model"):
        topo_order({"a": parse_model("a", "select * from {{ ref('nope') }}")})


def test_reference_shaped_project_end_to_end(spark, tmp_path):
    target = str(tmp_path / "wh")
    report = run_models(
        spark, MODELS, sources={"bronze.trades_raw": _rows(spark, ROWS_V1)},
        target_dir=target,
    )
    assert report["stg_trades"]["materialized"] == "view"
    assert report["fct_trades"] == {"materialized": "incremental", "rows": 3, "version": 0}
    fct = model_df(spark, "fct_trades")
    # BQ float64 shim -> double; notional computed through the view chain
    assert dict(fct.dtypes)["price"] == "double"
    got = {r["trade_id"]: r["total_notional"] for r in fct.collect()}
    assert got == {"1": 200.0, "2": 101.0, "3": 200.0}  # trade_id cast to string in staging
    # day partitioning reached the snapshot data layout
    snap_data = os.path.join(target, "fct_trades", "data")
    dirs = [p for d in os.listdir(snap_data) for p in os.listdir(os.path.join(snap_data, d))]
    assert any(p.startswith("event_date=") for p in dirs)

    # run 2: watermark delta (2 rows pass the is_incremental filter) and
    # unique_key MERGE semantics — trade 2 is REPLACED, not duplicated
    report2 = run_models(
        spark, MODELS, sources={"bronze.trades_raw": _rows(spark, ROWS_V2)},
        target_dir=target,
    )
    assert report2["fct_trades"]["rows"] == 4
    assert report2["fct_trades"]["version"] == 1
    got2 = {r["trade_id"]: r["total_notional"] for r in model_df(spark, "fct_trades").collect()}
    assert got2 == {"1": 200.0, "2": 999.0, "3": 200.0, "4": 55.0}

    # full_refresh rebuilds from the whole source
    report3 = run_models(
        spark, MODELS, sources={"bronze.trades_raw": _rows(spark, ROWS_V2)},
        target_dir=target, full_refresh=True,
    )
    # dbt --full-refresh is a plain rebuild of the SELECT — the duplicated
    # trade-2 source row lands twice (no unique_key dedup outside MERGE),
    # exactly dbt's behavior
    assert report3["fct_trades"]["rows"] == 5


def test_schema_tests_gate_downstream(spark, tmp_path):
    schema_yml = """
version: 2
models:
  - name: stg_trades
    columns:
      - name: trade_id
        tests: [unique, not_null]
"""
    suite = suite_from_dbt_schema(schema_yml, "stg_trades")
    assert suite == {"columns": {"trade_id": ["unique", "not_null"]}}
    dup = ROWS_V1 + [(1, "BTCUSDT", "2024-06-10 12:00:00", "1.0", "1.0")]
    with pytest.raises(AssertionError, match="trade_id_unique"):
        run_models(
            spark, MODELS, sources={"bronze.trades_raw": _rows(spark, dup)},
            target_dir=str(tmp_path / "wh2"), tests={"stg_trades": suite},
        )
    # the failing parent stopped the mart from materializing
    assert not os.path.exists(os.path.join(str(tmp_path / "wh2"), "fct_trades", "versions"))


def test_load_project_folder_defaults(spark, tmp_path):
    mdir = tmp_path / "models"
    (mdir / "staging").mkdir(parents=True)
    (mdir / "marts").mkdir()
    (mdir / "staging" / "stg_trades.sql").write_text(STAGING_SQL)
    # mart WITHOUT model-level config: folder default decides (table)
    (mdir / "marts" / "daily_volume.sql").write_text(
        "select event_date, symbol, round(sum(price * quantity), 4) as vol\n"
        "from {{ ref('stg_trades') }} group by event_date, symbol"
    )
    models = load_project(str(mdir))
    assert models["daily_volume"].folder == "marts"
    report = run_models(
        spark, models, sources={"bronze.trades_raw": _rows(spark, ROWS_V1)},
        target_dir=str(tmp_path / "wh3"),
        folder_defaults={"staging": "view", "marts": "table"},
    )
    assert report["daily_volume"]["materialized"] == "table"
    assert os.path.exists(str(tmp_path / "wh3" / "daily_volume"))
    assert model_df(spark, "daily_volume").count() == report["daily_volume"]["rows"] == 2


def test_env_var_and_append_strategy(spark, tmp_path):
    m = {
        "filtered": parse_model(
            "filtered",
            "{{ config(materialized='incremental') }}\n"
            "select * from {{ source('bronze', 'trades_raw') }} "
            "where symbol = '{{ env_var(\"BDP_SYM\", \"BTCUSDT\") }}'"
            "{% if is_incremental() %} and trade_id > (select max(trade_id) from {{ this }}){% endif %}",
        )
    }
    target = str(tmp_path / "wh4")
    r1 = run_models(
        spark, m, sources={"bronze.trades_raw": _rows(spark, ROWS_V1)}, target_dir=target
    )
    assert r1["filtered"]["rows"] == 2  # BTC only
    # append strategy (no unique_key): second run appends the delta only —
    # switch the env filter to ETH so the is_incremental trade_id watermark
    # admits trades 3 and 4 on top of the 2 committed BTC rows
    r2 = run_models(
        spark, m, sources={"bronze.trades_raw": _rows(spark, ROWS_V2)}, target_dir=target,
        env={"BDP_SYM": "ETHUSDT"},
    )
    assert r2["filtered"]["rows"] == 4
    with pytest.raises(KeyError, match="NOPE"):
        run_models(
            spark,
            {"x": parse_model("x", "select '{{ env_var(\"NOPE\") }}' as c")},
            sources={},
        )


def test_missing_source_and_target_validation(spark):
    with pytest.raises(ValueError, match="needs source"):
        run_models(spark, {"s": parse_model("s", "select * from {{ source('a', 'b') }}")})
    with pytest.raises(ValueError, match="target_dir"):
        run_models(spark, {"t": parse_model("t", "{{ config(materialized='table') }} select 1 as c")})
    with pytest.raises(ValueError, match="unsupported materialized"):
        run_models(spark, {"u": parse_model("u", "{{ config(materialized='exotic') }} select 1 as c")})


def test_cli_models_roundtrip(spark, tmp_path, capsys):
    """`python -m binance_data_pipeline_spark models` runs a project dir
    with source bindings, folder defaults, schema.yml gating, env vars."""
    from binance_data_pipeline_spark.__main__ import main

    src = str(tmp_path / "bronze.parquet")
    _rows(spark, ROWS_V1).write.parquet(src)
    mdir = tmp_path / "models"
    (mdir / "staging").mkdir(parents=True)
    (mdir / "marts").mkdir()
    (mdir / "staging" / "stg_trades.sql").write_text(STAGING_SQL)
    (mdir / "marts" / "fct_trades.sql").write_text(MART_SQL)
    schema_yml = tmp_path / "schema.yml"
    schema_yml.write_text(
        "version: 2\nmodels:\n  - name: stg_trades\n    columns:\n"
        "      - name: trade_id\n        tests: [unique, not_null]\n"
    )
    rc = main([
        "models", "--models-dir", str(mdir), "--target", str(tmp_path / "wh"),
        "--source", f"bronze.trades_raw={src}",
        "--folder-default", "staging=view", "--folder-default", "marts=table",
        "--schema-yml", str(schema_yml),
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "stg_trades\tview" in out
    # model-level config (incremental) beats the marts=table folder default
    assert "fct_trades\tincremental\trows=3\tversion=0" in out


def test_incremental_equals_full_recompute_randomized(spark, tmp_path):
    """Property: after any sequence of source batches (inserts + updates
    with advancing event_time), the incrementally maintained mart equals
    upserting each watermark delta in order — and for update-only-newer
    streams, equals the latest-row-per-key of a full recompute."""
    import random

    rng = random.Random(7)
    target = str(tmp_path / "whp")
    base_ts = 1_700_000_000

    all_rows: list = []
    next_id = 1
    expected: dict = {}  # trade_id -> (price, quantity) latest applied
    for batch in range(4):
        n_new = rng.randint(1, 4)
        batch_rows = []
        for _ in range(n_new):
            batch_rows.append((next_id, rng.choice(["BTCUSDT", "ETHUSDT"]),
                               base_ts, round(rng.uniform(1, 100), 2), 1.0))
            next_id += 1
            base_ts += 3600
        if all_rows and rng.random() < 0.7:
            victim = rng.choice(all_rows)[0]
            batch_rows.append((victim, "BTCUSDT", base_ts, 777.0, 2.0))
            base_ts += 3600
        all_rows.extend(batch_rows)
        for tid, _s, _t, pr, q in batch_rows:
            expected[str(tid)] = round(pr * q, 4)

        import datetime as dt

        src = spark.createDataFrame(
            [(t, s, dt.datetime.utcfromtimestamp(ts), str(p), str(q))
             for (t, s, ts, p, q) in all_rows],
            "trade_id long, symbol string, event_time timestamp, price string, quantity string",
        )
        run_models(spark, MODELS, sources={"bronze.trades_raw": src}, target_dir=target)
        got = {
            r["trade_id"]: round(r["total_notional"], 4)
            for r in model_df(spark, "fct_trades").collect()
        }
        assert got == expected, f"batch {batch}: {got} != {expected}"


def test_dbt_snapshot_scd2(spark, tmp_path):
    """{% snapshot %} blocks maintain SCD2 history in a snapshot-table
    store: check strategy versions attribute changes, collapses no-op
    re-deliveries, and keeps run-level time travel on top."""
    from binance_data_pipeline_spark.sql_models import run_dbt_snapshots

    text = """
{% snapshot dim_symbols %}
{{ config(strategy='check', unique_key='symbol', check_cols=['status']) }}
select symbol, status from {{ source('ref_data', 'symbols') }}
{% endsnapshot %}
"""
    target = str(tmp_path / "snaps")
    src1 = spark.createDataFrame(
        [("BTCUSDT", "TRADING"), ("ETHUSDT", "TRADING")], "symbol string, status string"
    )
    r1 = run_dbt_snapshots(spark, text, {"ref_data.symbols": src1}, target)
    assert r1["dim_symbols"] == {"version": 0, "rows": 2, "open_rows": 2}

    # no-change re-delivery: idempotent (new table version, same rows)
    r2 = run_dbt_snapshots(spark, text, {"ref_data.symbols": src1}, target)
    assert r2["dim_symbols"]["rows"] == 2 and r2["dim_symbols"]["open_rows"] == 2

    # one status flips: old version closes, new one opens
    src2 = spark.createDataFrame(
        [("BTCUSDT", "HALTED"), ("ETHUSDT", "TRADING")], "symbol string, status string"
    )
    r3 = run_dbt_snapshots(spark, text, {"ref_data.symbols": src2}, target)
    assert r3["dim_symbols"]["rows"] == 3 and r3["dim_symbols"]["open_rows"] == 2
    from binance_data_pipeline_spark.sql_models import model_df

    hist = {
        (r["symbol"], r["status"]): r["is_current"]
        for r in model_df(spark, "dim_symbols").collect()
    }
    assert hist[("BTCUSDT", "TRADING")] is False
    assert hist[("BTCUSDT", "HALTED")] is True
    assert hist[("ETHUSDT", "TRADING")] is True

    # run-level time travel: the pre-flip dimension is still readable
    from binance_data_pipeline_spark.operators.snapshots import read_snapshot

    v1 = read_snapshot(spark, f"{target}/dim_symbols", version=r2["dim_symbols"]["version"])
    assert v1.where("is_current").count() == 2
    assert v1.where("symbol = 'BTCUSDT' and status = 'TRADING' and is_current").count() == 1

    with pytest.raises(ValueError, match="unique_key"):
        run_dbt_snapshots(
            spark,
            "{% snapshot bad %}{{ config(strategy='check') }} select 1 as a{% endsnapshot %}",
            {}, str(tmp_path / "s2"),
        )


def test_model_can_ref_dbt_snapshot_dimension(spark, tmp_path):
    """A model may {{ ref() }} a dimension built by run_dbt_snapshots in
    the same session (external dep); a truly unknown ref still raises."""
    from binance_data_pipeline_spark.sql_models import run_dbt_snapshots

    text = """{% snapshot dim_status %}
{{ config(strategy='check', unique_key='symbol', check_cols='all') }}
select symbol, status from {{ source('rd', 'sym') }}
{% endsnapshot %}"""
    src = spark.createDataFrame(
        [("BTCUSDT", "TRADING"), ("ETHUSDT", "HALTED")], "symbol string, status string"
    )
    run_dbt_snapshots(spark, text, {"rd.sym": src}, str(tmp_path / "snapwh"))
    rep = run_models(
        spark,
        {"active": "select symbol from {{ ref('dim_status') }} "
                   "where is_current and status = 'TRADING'"},
    )
    assert rep["active"]["materialized"] == "view"
    assert [r["symbol"] for r in model_df(spark, "active").collect()] == ["BTCUSDT"]
    with pytest.raises(ValueError, match="unknown model"):
        run_models(spark, {"bad": "select * from {{ ref('never_registered') }}"})


def test_var_substitution(spark):
    """{{ var() }}: provided values win, literal defaults (quoted or
    numeric) apply, missing without default raises."""
    m = {
        "v": parse_model(
            "v",
            "select {{ var('n', 3) }} as n, '{{ var(\"label\", 'x') }}' as label",
        )
    }
    rep = run_models(spark, m, vars={"label": "prod"})
    assert rep["v"]["materialized"] == "view"
    row = model_df(spark, "v").collect()[0]
    assert (row["n"], row["label"]) == (3, "prod")
    with pytest.raises(KeyError, match="missing"):
        run_models(spark, {"w": parse_model("w", "select {{ var('missing') }} as x")})


def test_empty_delta_does_not_churn_versions(spark, tmp_path):
    """A cadence-scheduled incremental run with no new source rows must
    NOT mint a new table version (history stays clean); the report marks
    version=None and the view still serves."""
    import datetime as dt

    from binance_data_pipeline_spark.operators.snapshots import snapshot_history

    m = {
        "f": parse_model(
            "f",
            "{{ config(materialized='incremental', unique_key='k') }}"
            "select k, v, ts from {{ source('a','t') }}"
            "{% if is_incremental() %} where ts > (select max(ts) from {{ this }}){% endif %}",
        )
    }
    src = spark.createDataFrame(
        [("x", 1, dt.datetime(2024, 1, 1))], "k string, v long, ts timestamp"
    )
    target = str(tmp_path / "whe")
    run_models(spark, m, {"a.t": src}, target)
    r2 = run_models(spark, m, {"a.t": src}, target)
    assert r2["f"]["version"] is None and r2["f"]["rows"] == 1
    versions = [r["version"] for r in snapshot_history(spark, f"{target}/f").collect()]
    assert max(versions) == 0  # only the initial build committed


def test_config_string_values_with_brackets():
    """config() values whose STRINGS contain parens/braces must not
    confuse the balanced-bracket scan (ADVICE r7: _split_config)."""
    from binance_data_pipeline_spark.sql_models import _split_config

    sql = (
        "{{ config(materialized='table', description=\"p95 (ms) {q}\", "
        "labels={'note': 'a)b'}) }}\nselect 1 as x"
    )
    cfg, body = _split_config(sql)
    assert cfg["description"] == "p95 (ms) {q}"
    assert cfg["labels"] == {"note": "a)b"}
    assert body.strip() == "select 1 as x"


def test_dbt_snapshot_var_bindings(spark, tmp_path):
    """{{ var(...) }} inside a snapshot block resolves from the vars
    dict (ADVICE r7: run_dbt_snapshots shadowed by builtin vars)."""
    from binance_data_pipeline_spark.sql_models import run_dbt_snapshots

    text = """
{% snapshot dim_v %}
{{ config(unique_key='k', strategy='check', check_cols='all') }}
select k, v from {{ source('a', 't') }} where v >= {{ var('floor', 0) }}
{% endsnapshot %}
"""
    src = spark.createDataFrame([("x", 1), ("y", 5)], "k string, v long")
    target = str(tmp_path / "snapvars")
    rep = run_dbt_snapshots(spark, text, {"a.t": src}, target, vars={"floor": 5})
    assert rep["dim_v"]["rows"] == 1  # only v=5 passed the var filter
    # default applies when the binding is absent
    rep2 = run_dbt_snapshots(spark, text, {"a.t": src}, str(tmp_path / "s2"))
    assert rep2["dim_v"]["rows"] == 2


# ---------------------------------------------------------------------------
# round 8: threads / on_schema_change / streaming materialization
# ---------------------------------------------------------------------------


def test_threads_build_level_concurrently_and_faster(spark, tmp_path):
    """dbt profiles.yml `threads` parity (reference declares 4): four
    independent table models over lineitem build concurrently — same
    results, dependency order respected (the mart that refs all four
    builds after them), and concurrent wall < serial wall."""
    import time

    lineitem = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    branches = {
        f"agg_{c}": (
            "{{ config(materialized='table') }}\n"
            f"select l_returnflag, sum({c}) as s_{c} "
            "from {{ source('tpch', 'lineitem') }} group by l_returnflag"
        )
        for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    }
    branches["mart_all"] = (
        "{{ config(materialized='table') }}\n"
        "select a.l_returnflag, s_l_quantity, s_l_extendedprice, s_l_discount, s_l_tax "
        "from {{ ref('agg_l_quantity') }} a "
        "join {{ ref('agg_l_extendedprice') }} b on a.l_returnflag = b.l_returnflag "
        "join {{ ref('agg_l_discount') }} c on a.l_returnflag = c.l_returnflag "
        "join {{ ref('agg_l_tax') }} d on a.l_returnflag = d.l_returnflag"
    )
    src = {"tpch.lineitem": lineitem}

    t0 = time.monotonic()
    r_serial = run_models(spark, dict(branches), src, str(tmp_path / "serial"))
    serial_wall = time.monotonic() - t0
    t0 = time.monotonic()
    r_par = run_models(spark, dict(branches), src, str(tmp_path / "par"), threads=4)
    par_wall = time.monotonic() - t0

    assert list(r_par) == list(r_serial)  # report keeps topo order
    assert r_par["mart_all"]["rows"] == r_serial["mart_all"]["rows"] == 3
    # identical results either way
    a = spark.read.parquet(str(tmp_path / "serial/mart_all")).orderBy("l_returnflag").collect()
    b = spark.read.parquet(str(tmp_path / "par/mart_all")).orderBy("l_returnflag").collect()
    assert a == b
    # 4 independent ~equal builds on 4 threads: genuinely faster. Kept
    # loose (not a ratio) — but if this flakes the parallelism is gone.
    assert par_wall < serial_wall, (par_wall, serial_wall)


def test_threads_failure_names_model_and_blocks_downstream(spark, tmp_path):
    """A failing model in a concurrent level raises NAMING the model,
    and the next level never builds (no partial mart on disk)."""
    models = {
        "ok_branch": "{{ config(materialized='table') }}\n"
                     "select 1 as k",
        "bad_branch": "{{ config(materialized='table') }}\n"
                      "select no_such_column from {{ source('a', 't') }}",
        "mart": "{{ config(materialized='table') }}\n"
                "select * from {{ ref('ok_branch') }}, {{ ref('bad_branch') }}",
    }
    src = {"a.t": spark.createDataFrame([(1,)], "x long")}
    with pytest.raises(RuntimeError, match="bad_branch"):
        run_models(spark, models, src, str(tmp_path / "t"), threads=2)
    assert not os.path.exists(str(tmp_path / "t/mart"))


def _schema_change_models(where: str = ""):
    return {
        "f": parse_model(
            "f",
            "{{ config(materialized='incremental', unique_key='k'" + where + ") }}"
            "select * from {{ source('a', 't') }}"
            "{% if is_incremental() %} where ts > (select max(ts) from {{ this }})"
            "{% endif %}",
        )
    }


def _src_rows(spark, rows, extra_col=False):
    import datetime as dt

    schema = "k string, v long, ts timestamp" + (", nc string" if extra_col else "")
    conv = [
        (r[0], r[1], dt.datetime(2024, 1, 1 + r[2])) + ((r[3],) if extra_col else ())
        for r in rows
    ]
    return spark.createDataFrame(conv, schema)


def test_on_schema_change_ignore_default(spark, tmp_path):
    """dbt default: a NEW source column is dropped from the delta; the
    table keeps its original schema (no silent union evolution)."""
    target = str(tmp_path / "w")
    run_models(spark, _schema_change_models(), {"a.t": _src_rows(spark, [("x", 1, 0)])}, target)
    src2 = _src_rows(spark, [("x", 1, 0, "a"), ("y", 2, 1, "b")], extra_col=True)
    run_models(spark, _schema_change_models(), {"a.t": src2}, target)
    out = model_df(spark, "f")
    assert out.count() == 2
    assert set(out.columns) == {"k", "v", "ts"}  # nc never landed


def test_on_schema_change_append_new_columns(spark, tmp_path):
    """append_new_columns: the table schema evolves; pre-existing rows
    read the new column as NULL."""
    target = str(tmp_path / "w")
    m = _schema_change_models(", on_schema_change='append_new_columns'")
    run_models(spark, m, {"a.t": _src_rows(spark, [("x", 1, 0)])}, target)
    src2 = _src_rows(spark, [("y", 2, 1, "b")], extra_col=True)
    run_models(spark, m, {"a.t": src2}, target)
    got = {r["k"]: r["nc"] for r in model_df(spark, "f").collect()}
    assert got == {"x": None, "y": "b"}


def test_on_schema_change_fail_and_sync_unsupported(spark, tmp_path):
    target = str(tmp_path / "w")
    m = _schema_change_models(", on_schema_change='fail'")
    run_models(spark, m, {"a.t": _src_rows(spark, [("x", 1, 0)])}, target)
    src2 = _src_rows(spark, [("y", 2, 1, "b")], extra_col=True)
    with pytest.raises(ValueError, match=r"'f'.*\['nc'\].*on_schema_change"):
        run_models(spark, m, {"a.t": src2}, target)
    m2 = _schema_change_models(", on_schema_change='sync_all_columns'")
    with pytest.raises(ValueError, match="sync_all_columns"):
        run_models(spark, m2, {"a.t": src2}, str(tmp_path / "w2"))


def test_streaming_model_end_to_end_exactly_once(spark, tmp_path):
    """materialized='streaming': the model mart follows its source
    snapshot table's change feed — first run bootstraps, later source
    commits flow through exactly once per run_models call, a no-change
    run commits nothing, and downstream models can ref() the mart."""
    import datetime as dt

    from binance_data_pipeline_spark.operators.snapshots import (
        commit_snapshot,
        snapshot_history,
    )

    src_table = str(tmp_path / "src_tbl")
    df1 = spark.createDataFrame(
        [("x", 1, dt.datetime(2024, 1, 1)), ("y", 2, dt.datetime(2024, 1, 2))],
        "k string, v long, ts timestamp",
    )
    commit_snapshot(spark, src_table, df1, mode="overwrite")

    models = {
        "mart_stream": (
            "{{ config(materialized='streaming') }}\n"
            "select k, v * 2 as v2 from {{ source('bronze', 'events') }} where v > 0"
        ),
        "mart_view": "select count(*) as n, sum(v2) as s from {{ ref('mart_stream') }}",
    }
    src = {"bronze.events": src_table}
    target = str(tmp_path / "wh")

    r1 = run_models(spark, models, src, target)
    assert r1["mart_stream"]["materialized"] == "streaming"
    assert r1["mart_stream"]["rows"] == 2 and r1["mart_stream"]["version"] is not None
    row = model_df(spark, "mart_view").collect()[0]
    assert (row["n"], row["s"]) == (2, 6)

    # source gains a commit -> next run drains ONLY the delta
    commit_snapshot(
        spark, src_table,
        spark.createDataFrame([("z", 5, dt.datetime(2024, 1, 3))], "k string, v long, ts timestamp"),
        mode="append",
    )
    r2 = run_models(spark, models, src, target)
    assert r2["mart_stream"]["rows"] == 3
    got = {r["k"]: r["v2"] for r in model_df(spark, "mart_stream").collect()}
    assert got == {"x": 2, "y": 4, "z": 10}

    # no new source data -> no new mart version (history stays clean)
    r3 = run_models(spark, models, src, target)
    assert r3["mart_stream"]["version"] is None and r3["mart_stream"]["rows"] == 3
    ops = [r["operation"] for r in snapshot_history(spark, f"{target}/mart_stream").collect()]
    assert len(ops) == 2  # bootstrap batch + one delta batch, nothing else


def test_streaming_model_validation_errors(spark, tmp_path):
    """Streaming models refuse is_incremental()/this, missing sources,
    and non-snapshot-table source bindings — loudly, not silently."""
    src_df = spark.createDataFrame([(1,)], "x long")
    m = {
        "s1": "{{ config(materialized='streaming') }}\n"
              "select * from {{ source('a','t') }}"
              "{% if is_incremental() %} where 1=1 {% endif %}",
    }
    with pytest.raises(ValueError, match="is_incremental"):
        run_models(spark, m, {"a.t": src_df}, str(tmp_path / "w1"))
    m2 = {
        "s2": "{{ config(materialized='streaming') }}\n"
              "select * from {{ source('a','t') }}",
    }
    with pytest.raises(ValueError, match="snapshot-table PATH"):
        run_models(spark, m2, {"a.t": src_df}, str(tmp_path / "w2"))


def test_threads_from_profiles():
    """profiles.yml parsing: the reference's shape (named profile,
    target -> outputs -> threads), fallback to first output, missing
    threads -> 1, named-profile miss raises."""
    from binance_data_pipeline_spark.sql_models import threads_from_profiles

    text = """
config:
  send_anonymous_usage_stats: false
my_pipeline:
  target: prod
  outputs:
    prod:
      type: bigquery
      threads: 4
    dev:
      type: bigquery
      threads: 1
"""
    assert threads_from_profiles(text) == 4
    assert threads_from_profiles(text, profile="my_pipeline") == 4
    assert threads_from_profiles("p:\n  outputs:\n    only:\n      threads: 2\n") == 2
    assert threads_from_profiles("p:\n  outputs:\n    only:\n      type: x\n") == 1
    with pytest.raises(ValueError, match="nope"):
        threads_from_profiles(text, profile="nope")


def test_split_config_property_roundtrip():
    """Property: any python-literal kwargs (strings full of quotes,
    brackets, backslashes; nested dicts/lists; ints/bools) embedded as
    {{ config(...) }} extract EXACTLY, leaving the body intact — the
    generalization of the r7 ADVICE bracket-in-string bug."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from binance_data_pipeline_spark.sql_models import _split_config

    tricky_text = st.text(
        alphabet='ab({[)}]"\'\\,=% ', min_size=0, max_size=12
    )
    scalar = st.one_of(st.integers(-999, 999), st.booleans(), tricky_text)
    value = st.one_of(
        scalar,
        st.lists(scalar, max_size=3),
        st.dictionaries(st.sampled_from(["f", "g"]), scalar, max_size=2),
    )
    cfg_dicts = st.dictionaries(
        st.sampled_from(["materialized", "description", "labels", "partition_by"]),
        value, min_size=1, max_size=3,
    )

    @settings(max_examples=200, deadline=None)
    @given(cfg_dicts)
    def check(cfg):
        kwargs = ", ".join(f"{k}={v!r}" for k, v in cfg.items())
        sql = f"{{{{ config({kwargs}) }}}}\nselect 1 as x"
        got, body = _split_config(sql)
        assert got == cfg, (got, cfg)
        assert body.strip() == "select 1 as x"

    check()


def test_seeds_and_project_yml_defaults(spark, tmp_path):
    """dbt seed-paths + dbt_project.yml parity: CSVs under seeds/ load
    as ref()-able tables (header + type inference), and the reference-
    shaped models section supplies folder materialization defaults."""
    from binance_data_pipeline_spark.sql_models import (
        folder_defaults_from_project,
        run_seeds,
    )

    seeds = tmp_path / "seeds"
    seeds.mkdir()
    (seeds / "fee_rules.csv").write_text(
        "symbol,fee_bps\nBTCUSDT,10\nETHUSDT,12\n"
    )
    target = str(tmp_path / "wh")
    rep = run_seeds(spark, str(seeds), target)
    assert rep["fee_rules"]["rows"] == 2
    # inferSchema made fee_bps numeric
    assert dict(model_df(spark, "fee_rules").dtypes)["fee_bps"] in ("int", "bigint")

    # the reference's dbt_project.yml shape (staging view / marts table)
    project_yml = """
name: 'binance_project'
models:
  binance_project:
    staging:
      +materialized: view
    marts:
      +materialized: table
"""
    assert folder_defaults_from_project(project_yml) == {
        "staging": "view", "marts": "table",
    }

    # a model can ref() the seed with no source binding
    m = {
        "fees_doubled": parse_model(
            "fees_doubled",
            "{{ config(materialized='table') }}\n"
            "select symbol, fee_bps * 2 as bps2 from {{ ref('fee_rules') }}",
        )
    }
    r = run_models(spark, m, target_dir=target)
    assert r["fees_doubled"]["rows"] == 2
    got = {x["symbol"]: x["bps2"] for x in model_df(spark, "fees_doubled").collect()}
    assert got == {"BTCUSDT": 20, "ETHUSDT": 24}


def test_select_node_selection(spark, tmp_path):
    """dbt --select parity: graph selectors (name, name+, +name),
    unrelated branches never touched, unselected materialized parents
    REUSED from disk (and a named error when never built)."""
    models = {
        "stg": "select 1 as k, 10 as v",
        "mid": "{{ config(materialized='table') }}\n"
               "select k, v * 2 as v2 from {{ ref('stg') }}",
        "mart": "{{ config(materialized='table') }}\n"
                "select k, v2 + 1 as v3 from {{ ref('mid') }}",
        "other": "{{ config(materialized='table') }}\n"
                 "select 99 as unrelated",
    }
    target = str(tmp_path / "wh")

    # selecting a node whose materialized parent was never built: named error
    with pytest.raises(ValueError, match="'mid'.*never"):
        run_models(spark, models, target_dir=target, select=["mart"])

    # +mart builds the whole ancestry, NOT the unrelated branch
    r = run_models(spark, models, target_dir=target, select=["+mart"])
    assert set(r) == {"stg", "mid", "mart"}
    assert not os.path.exists(f"{target}/other")
    assert model_df(spark, "mart").collect()[0]["v3"] == 21

    # now a narrow re-run of just mart REUSES mid from disk
    r2 = run_models(spark, models, target_dir=target, select=["mart"])
    assert set(r2) == {"stg", "mid", "mart"}  # stg is a free view compile
    assert r2["mid"].get("reused") is True and r2["mart"].get("reused") is None

    # stg+ selects descendants: everything except the unrelated branch
    r3 = run_models(spark, models, target_dir=target, select=["stg+"])
    assert set(r3) == {"stg", "mid", "mart"}
    assert r3["mid"].get("reused") is None  # selected -> rebuilt

    with pytest.raises(ValueError, match="unknown model"):
        run_models(spark, models, target_dir=target, select=["nope+"])


def test_incremental_strategy_insert_overwrite(spark, tmp_path):
    """dbt-BigQuery's insert_overwrite: the delta's partitions are
    replaced WHOLE in one atomic commit — late corrections rewrite
    their day without a unique_key, other days ride untouched."""
    import datetime as dt

    m = {
        "f": parse_model(
            "f",
            "{{ config(materialized='incremental', "
            "incremental_strategy='insert_overwrite', "
            "partition_by='event_date') }}"
            "select * from {{ source('a', 't') }}"
            "{% if is_incremental() %} where event_date >= "
            "(select max(event_date) from {{ this }}){% endif %}",
        )
    }
    d1, d2 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
    src1 = spark.createDataFrame(
        [(d1, "x", 1.0), (d1, "y", 2.0), (d2, "z", 3.0)],
        "event_date date, k string, v double",
    )
    target = str(tmp_path / "wh")
    run_models(spark, m, {"a.t": src1}, target)

    # day-2 correction: z revalued, w appears, y-from-day-1 untouched
    src2 = spark.createDataFrame(
        [(d1, "x", 1.0), (d1, "y", 2.0), (d2, "z", 30.0), (d2, "w", 4.0)],
        "event_date date, k string, v double",
    )
    r2 = run_models(spark, m, {"a.t": src2}, target)
    got = {r["k"]: r["v"] for r in model_df(spark, "f").collect()}
    assert got == {"x": 1.0, "y": 2.0, "z": 30.0, "w": 4.0}
    assert r2["f"]["version"] is not None

    # strategy demands a partition column
    m2 = {
        "g": parse_model(
            "g",
            "{{ config(materialized='incremental', "
            "incremental_strategy='insert_overwrite') }}"
            "select * from {{ source('a', 't') }}",
        )
    }
    run_models(spark, m2, {"a.t": src1}, target)
    with pytest.raises(ValueError, match="requires partition_by"):
        run_models(spark, m2, {"a.t": src2}, target)
    with pytest.raises(ValueError, match="unsupported incremental_strategy"):
        run_models(
            spark,
            {"h": parse_model(
                "h",
                "{{ config(materialized='incremental', "
                "incremental_strategy='bogus') }}"
                "select * from {{ source('a','t') }}",
            )},
            {"a.t": src1}, str(tmp_path / "w2"),
        )


def test_exclude_node_selection(spark, tmp_path):
    """dbt --exclude: removed from the selection (from ALL models when
    --select is unset); excluded materialized nodes reuse from disk."""
    models = {
        "stg": "select 1 as k",
        "a_mart": "{{ config(materialized='table') }}\n"
                  "select k from {{ ref('stg') }}",
        "b_mart": "{{ config(materialized='table') }}\n"
                  "select k + 1 as k2 from {{ ref('stg') }}",
    }
    target = str(tmp_path / "wh")
    r = run_models(spark, models, target_dir=target, exclude=["b_mart"])
    assert set(r) == {"stg", "a_mart"}  # b_mart branch untouched
    assert not os.path.exists(f"{target}/b_mart")

    # build everything, then exclude a_mart: it's no one's parent, so it
    # drops out of the run entirely (dbt's behavior)
    run_models(spark, models, target_dir=target)
    r2 = run_models(spark, models, target_dir=target, exclude=["a_mart"])
    assert set(r2) == {"stg", "b_mart"}
    # select+exclude compose: stg+ minus b_mart = stg, a_mart
    r3 = run_models(
        spark, models, target_dir=target, select=["stg+"], exclude=["b_mart"]
    )
    assert set(r3) == {"stg", "a_mart"}


def test_insert_overwrite_null_partition_and_cardinality_cap(spark, tmp_path):
    """insert_overwrite edge guards: a NULL partition value in the delta
    is replaced via an isNull-extended predicate (not an opaque
    assert deep in the write), and a delta spanning more distinct
    partitions than the cap fails with a named error suggesting merge
    (the collect is bounded and the bound is explicit)."""
    import datetime as dt

    m = {
        "f": parse_model(
            "f",
            "{{ config(materialized='incremental', "
            "incremental_strategy='insert_overwrite', "
            "partition_by='event_date') }}"
            "select * from {{ source('a', 't') }}",
        )
    }
    d1 = dt.date(2024, 1, 1)
    src1 = spark.createDataFrame(
        [(d1, "x", 1.0), (None, "n", 9.0)],
        "event_date date, k string, v double",
    )
    target = str(tmp_path / "wh")
    run_models(spark, m, {"a.t": src1}, target)
    # correction wave touches BOTH the real date and the NULL partition
    src2 = spark.createDataFrame(
        [(d1, "x", 10.0), (None, "n", 90.0)],
        "event_date date, k string, v double",
    )
    run_models(spark, m, {"a.t": src2}, target)
    got = {r["k"]: r["v"] for r in model_df(spark, "f").collect()}
    assert got == {"x": 10.0, "n": 90.0}  # old NULL-partition row replaced

    m2 = {
        "g": parse_model(
            "g",
            "{{ config(materialized='incremental', "
            "incremental_strategy='insert_overwrite', "
            "partition_by='k', insert_overwrite_max_partitions=2) }}"
            "select * from {{ source('a', 't') }}",
        )
    }
    wide = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("c", 3.0)], "k string, v double"
    )
    t2 = str(tmp_path / "wh2")
    run_models(spark, m2, {"a.t": wide}, t2)  # full refresh: no cap applies
    with pytest.raises(ValueError, match="distinct 'k' partitions"):
        run_models(spark, m2, {"a.t": wide}, t2)


def test_cli_folder_default_merges_with_project_yml(spark, tmp_path, capsys):
    """--folder-default merges PER FOLDER with dbt_project.yml (CLI
    wins on collision) — a single CLI override must not suppress the
    yml's defaults for OTHER folders (which silently fell back to
    view materialization before)."""
    from binance_data_pipeline_spark.__main__ import main

    src = str(tmp_path / "bronze.parquet")
    _rows(spark, ROWS_V1).write.parquet(src)
    mdir = tmp_path / "models"
    (mdir / "staging").mkdir(parents=True)
    (mdir / "marts").mkdir()
    (mdir / "staging" / "stg_trades.sql").write_text(
        "select * from {{ source('bronze', 'trades_raw') }}"
    )
    (mdir / "marts" / "agg_trades.sql").write_text(
        "select symbol, count(*) as n from {{ ref('stg_trades') }} group by symbol"
    )
    pyml = tmp_path / "dbt_project.yml"
    pyml.write_text(
        "name: bdp\nmodels:\n  bdp:\n    staging:\n      +materialized: table\n"
        "    marts:\n      +materialized: table\n"
    )
    rc = main([
        "models", "--models-dir", str(mdir), "--target", str(tmp_path / "wh"),
        "--source", f"bronze.trades_raw={src}",
        "--project-yml", str(pyml),
        "--folder-default", "staging=view",  # overrides staging ONLY
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "stg_trades\tview" in out      # CLI override applied
    assert "agg_trades\ttable" in out     # yml default for marts SURVIVES
