"""Differential fuzzing: randomized (seeded, deterministic) filter /
group / aggregate / join plans are generated ONCE as a neutral pure-data
spec, then lowered twice — to a DataFrame plan for Spark and to ANSI SQL
for DuckDB — and the results compared value-level through the oracle
harness. This is the SQLancer-style differential bar on top of the fixed-
query parity tests: any systematic divergence in predicate evaluation,
null handling, grouping, or aggregate semantics between the engine's
DataFrame lowering and a reference SQL engine shows up as a mismatch on
some generated case.

Seeded RNG (no hypothesis shrinking needed — a failing case prints its
spec verbatim, which IS the reproducer)."""

from __future__ import annotations

import random

import os as _os

from conftest import SF_SMALL as _DEFAULT_SF_DIR

# The whole differential bar is scale-parametric: point
# SPARK_FUZZ_SF_DIR at a bigger sf dir to re-run every case there
# (the per-round pin is sf0.001; sf0.01 is exercised by
# scripts/fuzz_at_scale reruns).
SF_SMALL = _os.environ.get("SPARK_FUZZ_SF_DIR", _DEFAULT_SF_DIR)

import pytest
from pyspark.sql import functions as F

from binance_data_pipeline_spark.catalog import load_table
from oracle_harness import compare, duck_connection

N_CASES = 30
SEED = 42


# ---- neutral pure-data predicate specs ------------------------------------

def _num_pred(rng):
    col, lo, hi = rng.choice(
        [("l_quantity", 1.0, 50.0), ("l_extendedprice", 1000.0, 90000.0), ("l_discount", 0.0, 0.1)]
    )
    op = rng.choice(["<", ">=", "between"])
    if op == "between":
        a = round(rng.uniform(lo, hi), 4)
        b = round(rng.uniform(a, hi), 4)
        return ("between", col, a, b)
    v = round(rng.uniform(lo, hi), 4)
    return (op, col, v)


def _cat_pred(rng):
    col, dom = rng.choice(
        [("l_returnflag", ["A", "N", "R"]), ("l_linestatus", ["F", "O"])]
    )
    vals = sorted(rng.sample(dom, rng.randint(1, len(dom))))
    return ("isin", col, vals)


def _date_pred(rng):
    y1 = rng.randint(1995, 2000)
    y2 = rng.randint(y1, 2001)
    a, b = f"{y1}-0{rng.randint(1, 9)}-01", f"{y2}-{10 + rng.randint(0, 2)}-01"
    return ("daterange", "l_shipdate", a, b)


def _gen_case(rng):
    gens = [_num_pred, _cat_pred, _date_pred]
    preds = [g(rng) for g in rng.sample(gens, rng.randint(1, 3))]
    keys = rng.sample(["l_returnflag", "l_linestatus", "ship_year"], rng.randint(0, 2))
    aggs = rng.sample(sorted(AGG_SQL), rng.randint(1, 3))
    return {"preds": preds, "keys": keys, "aggs": aggs, "join": rng.random() < 0.4}


AGG_SQL = {
    # Float sums are rounded at 4 on both sides (catalog policy); the
    # harness's rel-tolerance float compare absorbs residual ulp.
    "n": "count(*) AS n",
    "sum_qty": "sum(l_quantity) AS sum_qty",
    "sum_price": "round(sum(l_extendedprice), 4) AS sum_price",
    "min_disc": "min(l_discount) AS min_disc",
    "max_price": "max(l_extendedprice) AS max_price",
    "avg_qty": "avg(l_quantity) AS avg_qty",
    "nd_flag": "count(DISTINCT l_returnflag) AS nd_flag",
    "sd_qty": "round(coalesce(stddev_samp(l_quantity), 0.0), 4) AS sd_qty",
    "sum_case": ("sum(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END) "
                 "AS sum_case"),
}


# ---- lowering: spec -> Spark DataFrame ------------------------------------

def _pred_col(p):
    kind = p[0]
    if kind == "between":
        return F.col(p[1]).between(p[2], p[3])
    if kind == "<":
        return F.col(p[1]) < p[2]
    if kind == ">=":
        return F.col(p[1]) >= p[2]
    if kind == "isin":
        return F.col(p[1]).isin(p[2])
    if kind == "daterange":
        return (F.col(p[1]) >= F.lit(p[2])) & (F.col(p[1]) < F.lit(p[3]))
    raise ValueError(kind)


def _agg_col(name):
    return {
        "n": F.count(F.lit(1)),
        "sum_qty": F.sum("l_quantity"),
        "sum_price": F.round(F.sum("l_extendedprice"), 4),
        "min_disc": F.min("l_discount"),
        "max_price": F.max("l_extendedprice"),
        "avg_qty": F.avg("l_quantity"),
        "nd_flag": F.countDistinct("l_returnflag"),
        "sd_qty": F.round(F.coalesce(F.stddev_samp("l_quantity"), F.lit(0.0)), 4),
        "sum_case": F.sum(
            F.when(F.col("l_returnflag") == "R", F.col("l_quantity")).otherwise(F.lit(0))
        ),
    }[name].alias(name)


def _spark_df(spark, case):
    cond = _pred_col(case["preds"][0])
    for p in case["preds"][1:]:
        cond = cond & _pred_col(p)
    df = load_table(spark, SF_SMALL, "lineitem").where(cond)
    if case["join"]:
        o = load_table(spark, SF_SMALL, "orders").where(F.col("o_orderstatus") != "P")
        df = df.join(o, df.l_orderkey == o.o_orderkey)
    key_cols = [
        F.year("l_shipdate").cast("long").alias("ship_year") if k == "ship_year" else F.col(k)
        for k in case["keys"]
    ]
    agg_cols = [_agg_col(a) for a in case["aggs"]]
    return df.groupBy(*key_cols).agg(*agg_cols) if key_cols else df.agg(*agg_cols)


# ---- lowering: spec -> DuckDB SQL ------------------------------------------

def _pred_sql(p):
    kind = p[0]
    if kind == "between":
        return f"{p[1]} BETWEEN {p[2]} AND {p[3]}"
    if kind in ("<", ">="):
        return f"{p[1]} {kind} {p[2]}"
    if kind == "isin":
        vals = ", ".join(f"'{v}'" for v in p[2])
        return f"{p[1]} IN ({vals})"
    if kind == "daterange":
        return f"{p[1]} >= TIMESTAMP '{p[2]}' AND {p[1]} < TIMESTAMP '{p[3]}'"
    raise ValueError(kind)


def _key_sql(k):
    return "year(l_shipdate)::BIGINT" if k == "ship_year" else k


def _duck_sql(case):
    src = "lineitem"
    if case["join"]:
        src = "lineitem JOIN orders ON l_orderkey = o_orderkey AND o_orderstatus <> 'P'"
    select = [f"{_key_sql(k)} AS {k}" if k == "ship_year" else k for k in case["keys"]]
    select += [AGG_SQL[a] for a in case["aggs"]]
    sql = f"SELECT {', '.join(select)} FROM {src} WHERE " + " AND ".join(
        _pred_sql(p) for p in case["preds"]
    )
    if case["keys"]:
        sql += " GROUP BY " + ", ".join(_key_sql(k) for k in case["keys"])
    return sql


CASES = [_gen_case(random.Random(SEED * 1000 + i)) for i in range(N_CASES)]


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_SMALL)
    yield con
    con.close()


@pytest.mark.parametrize("i", range(N_CASES))
def test_differential_case(spark, duck, i):
    case = CASES[i]
    sql = _duck_sql(case)
    oracle = duck.sql(sql).df()
    df = _spark_df(spark, case)
    errors = compare(df, oracle, f"fuzz[{i}]")
    assert not errors, f"spec={case}\nsql={sql}\n" + "\n".join(errors)


def test_fuzz_cases_are_not_vacuous(duck):
    """At least 60% of the generated cases must return rows — a fuzz
    corpus of empty results proves nothing."""
    nonempty = sum(1 for c in CASES if len(duck.sql(_duck_sql(c)).df()) > 0)
    assert nonempty >= 0.6 * N_CASES, f"only {nonempty}/{N_CASES} cases return rows"


# ---- set-operation differential cases --------------------------------------

SETOP_CASES = []
for i in range(10):
    _r = random.Random(9000 + i)
    SETOP_CASES.append({
        "op": _r.choice(["union_all", "union", "intersect", "except"]),
        "left": _gen_case(_r),
        "right": _gen_case(_r),
    })
# set ops need identical column lists on both legs: share keys/aggs
for c in SETOP_CASES:
    c["right"]["keys"] = c["left"]["keys"]
    c["right"]["aggs"] = c["left"]["aggs"]
    c["right"]["join"] = c["left"]["join"] = False  # keep legs cheap


def _setop_spark(spark, case):
    l = _spark_df(spark, case["left"])
    r = _spark_df(spark, case["right"])
    return {
        "union_all": l.unionAll(r),
        "union": l.union(r).distinct(),
        "intersect": l.intersect(r),
        "except": l.subtract(r),  # ANSI EXCEPT = set difference w/ distinct
    }[case["op"]]


def _setop_sql(case):
    op = {
        "union_all": "UNION ALL",
        "union": "UNION",
        "intersect": "INTERSECT",
        "except": "EXCEPT",
    }[case["op"]]
    return f"({_duck_sql(case['left'])}) {op} ({_duck_sql(case['right'])})"


@pytest.mark.parametrize("i", range(len(SETOP_CASES)))
def test_setop_differential(spark, duck, i):
    """UNION/UNION ALL/INTERSECT/EXCEPT over two independently generated
    aggregate legs — DISTINCT semantics of the ANSI set ops are exactly
    where engines diverge (Spark's union() is positional UNION ALL; the
    lowering must add the distinct explicitly)."""
    case = SETOP_CASES[i]
    sql = _setop_sql(case)
    oracle = duck.sql(sql).df()
    df = _setop_spark(spark, case)
    errors = compare(df, oracle, f"setop[{i}]")
    assert not errors, f"spec={ {k: case[k] for k in ('op',)} }\nsql={sql}\n" + "\n".join(errors)


# ---- scalar-expression projection fuzz --------------------------------------
# Random depth-<=3 expression trees over ANSI-identical builtins, compared
# ROW-LEVEL (keyed by the unique (l_orderkey, l_linenumber)) on one ship
# month. Only operations with bit-identical cross-engine semantics are in
# the grammar: + - * abs round(_,2) floor/ceil (cast to double — Spark
# returns bigint), greatest/least, CASE WHEN, upper/lower/length/concat,
# year/month/day. Division is excluded (ANSI div-by-zero).

_NUM_LEAVES = ["l_quantity", "l_extendedprice", "l_discount"]


def _gen_num_expr(rng, depth):
    if depth == 0 or rng.random() < 0.3:
        return ("col", rng.choice(_NUM_LEAVES)) if rng.random() < 0.7 else (
            "lit", round(rng.uniform(-5, 5), 2))
    op = rng.choice(["add", "sub", "mul", "abs", "round2", "floor", "ceil",
                     "greatest", "least", "case"])
    if op in ("abs", "round2", "floor", "ceil"):
        return (op, _gen_num_expr(rng, depth - 1))
    if op == "case":
        return ("case", _num_pred(rng), _gen_num_expr(rng, depth - 1),
                _gen_num_expr(rng, depth - 1))
    return (op, _gen_num_expr(rng, depth - 1), _gen_num_expr(rng, depth - 1))


def _num_expr_col(e):
    k = e[0]
    if k == "col":
        return F.col(e[1])
    if k == "lit":
        return F.lit(e[1])
    if k == "add":
        return _num_expr_col(e[1]) + _num_expr_col(e[2])
    if k == "sub":
        return _num_expr_col(e[1]) - _num_expr_col(e[2])
    if k == "mul":
        return _num_expr_col(e[1]) * _num_expr_col(e[2])
    if k == "abs":
        return F.abs(_num_expr_col(e[1]))
    if k == "round2":
        return F.round(_num_expr_col(e[1]), 2)
    if k == "floor":
        return F.floor(_num_expr_col(e[1])).cast("double")
    if k == "ceil":
        return F.ceil(_num_expr_col(e[1])).cast("double")
    if k in ("greatest", "least"):
        return getattr(F, k)(_num_expr_col(e[1]), _num_expr_col(e[2]))
    if k == "case":
        return F.when(_pred_col(e[1]), _num_expr_col(e[2])).otherwise(_num_expr_col(e[3]))
    raise ValueError(k)


def _num_expr_sql(e):
    k = e[0]
    if k == "col":
        return e[1]
    if k == "lit":
        return repr(e[1])
    if k in ("add", "sub", "mul"):
        sym = {"add": "+", "sub": "-", "mul": "*"}[k]
        return f"({_num_expr_sql(e[1])} {sym} {_num_expr_sql(e[2])})"
    if k == "abs":
        return f"abs({_num_expr_sql(e[1])})"
    if k == "round2":
        return f"round({_num_expr_sql(e[1])}, 2)"
    if k in ("floor", "ceil"):
        return f"{k}({_num_expr_sql(e[1])})::DOUBLE"
    if k in ("greatest", "least"):
        return f"{k}({_num_expr_sql(e[1])}, {_num_expr_sql(e[2])})"
    if k == "case":
        return (f"CASE WHEN {_pred_sql(e[1])} THEN {_num_expr_sql(e[2])} "
                f"ELSE {_num_expr_sql(e[3])} END")
    raise ValueError(k)


SCALAR_CASES = [_gen_num_expr(random.Random(7000 + i), 3) for i in range(15)]
_SCALAR_FILTER = (
    "l_shipdate >= TIMESTAMP '1997-03-01' AND l_shipdate < TIMESTAMP '1997-04-01'"
)


@pytest.mark.parametrize("i", range(len(SCALAR_CASES)))
def test_scalar_expr_differential(spark, duck, i):
    e = SCALAR_CASES[i]
    sql = (f"SELECT l_orderkey, l_linenumber, {_num_expr_sql(e)} AS x "
           f"FROM lineitem WHERE {_SCALAR_FILTER}")
    oracle = duck.sql(sql).df()
    df = (
        load_table(spark, SF_SMALL, "lineitem")
        .where((F.col("l_shipdate") >= F.lit("1997-03-01"))
               & (F.col("l_shipdate") < F.lit("1997-04-01")))
        .select("l_orderkey", "l_linenumber", _num_expr_col(e).alias("x"))
    )
    errors = compare(df, oracle, f"scalar[{i}]")
    assert not errors, f"expr={e}\nsql={sql}\n" + "\n".join(errors)


def test_string_date_scalar_differential(spark, duck):
    """Fixed string/date scalar battery (upper/lower/length/trim/concat/
    substr 1-based/year/month/day) row-level on one month."""
    sql = f"""
      SELECT l_orderkey, l_linenumber,
             upper(l_returnflag) AS u, lower(l_linestatus) AS lo,
             length(concat(l_returnflag, '-', l_linestatus)) AS ln,
             substr(concat(l_returnflag, l_linestatus), 1, 1) AS s1,
             year(l_shipdate)::BIGINT AS y, month(l_shipdate)::BIGINT AS mo,
             day(l_shipdate)::BIGINT AS d
      FROM lineitem WHERE {_SCALAR_FILTER}"""
    oracle = duck.sql(sql).df()
    df = (
        load_table(spark, SF_SMALL, "lineitem")
        .where((F.col("l_shipdate") >= F.lit("1997-03-01"))
               & (F.col("l_shipdate") < F.lit("1997-04-01")))
        .select(
            "l_orderkey", "l_linenumber",
            F.upper("l_returnflag").alias("u"),
            F.lower("l_linestatus").alias("lo"),
            F.length(F.concat("l_returnflag", F.lit("-"), "l_linestatus")).cast("long").alias("ln"),
            F.substring(F.concat("l_returnflag", "l_linestatus"), 1, 1).alias("s1"),
            F.year("l_shipdate").cast("long").alias("y"),
            F.month("l_shipdate").cast("long").alias("mo"),
            F.dayofmonth("l_shipdate").cast("long").alias("d"),
        )
    )
    errors = compare(df, oracle, "string_date_scalars")
    assert not errors, "\n".join(errors)


def test_explode_unnest_differential(spark, duck):
    """Array flattening parity: explode ≡ unnest (multiset) and
    posexplode ≡ unnest + generate_subscripts (position-exact, 1-based
    on the SQL side). The LATERAL-view shape every array pipeline leans
    on; rounding at 4 makes the float32→double widening comparable."""
    emb = load_table(spark, SF_SMALL, "embeddings").where(F.col("vec_id") < 50)
    df = emb.select(
        "vec_id",
        F.posexplode("embedding").alias("pos", "x"),
    ).select(
        "vec_id",
        (F.col("pos") + 1).cast("long").alias("i"),
        F.round(F.col("x").cast("double"), 4).alias("x"),
    )
    oracle = duck.sql("""
        SELECT vec_id, generate_subscripts(embedding, 1)::BIGINT AS i,
               round(unnest(embedding)::DOUBLE, 4) AS x
        FROM embeddings WHERE vec_id < 50
    """).df()
    assert len(oracle) > 0
    errors = compare(df, oracle, "posexplode_unnest")
    assert not errors, "\n".join(errors)


def test_explode_outer_keeps_empty_arrays(spark, duck):
    """explode_outer emits a NULL row for an empty/NULL array where
    explode drops the parent — the left-lateral semantics. DuckDB
    mirror: LEFT JOIN LATERAL unnest."""
    rows = [(1, [10.0, 20.0]), (2, []), (3, None)]
    df_src = spark.createDataFrame(rows, "id long, arr array<double>")
    got = df_src.select("id", F.explode_outer("arr").alias("x")).collect()
    by_id = {}
    for r in got:
        by_id.setdefault(r["id"], []).append(r["x"])
    assert by_id == {1: [10.0, 20.0], 2: [None], 3: [None]}
    inner = df_src.select("id", F.explode("arr").alias("x")).count()
    assert inner == 2  # ids 2 and 3 dropped entirely


def test_json_extraction_differential(spark, duck):
    """JSON path extraction on the real events.props column:
    get_json_object ≡ json_extract_string, typed cast, missing-path NULL
    — row-level, keyed by event_id."""
    e = load_table(spark, SF_SMALL, "events")
    df = e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("double").alias("k"),
        F.get_json_object("props", "$.nope").alias("missing"),
    )
    oracle = duck.sql("""
        SELECT event_id,
               json_extract_string(props, '$.k')::DOUBLE AS k,
               json_extract_string(props, '$.nope') AS missing
        FROM events
    """).df()
    errors = compare(df, oracle, "json_extract")
    assert not errors, "\n".join(errors)


def test_null_ordering_differential(spark, duck):
    """Explicit NULLS FIRST/LAST in a sorted LIMIT — engine DEFAULTS
    diverge (Spark: nulls first ASC; DuckDB: nulls last), so portable
    plans must spell it out; this pins that the explicit forms agree.
    nullif(l_discount, 0) manufactures NULLs; unique key breaks ties."""
    li = load_table(spark, SF_SMALL, "lineitem")
    df = (
        li.select(
            "l_orderkey", "l_linenumber",
            F.nullif(F.col("l_discount"), F.lit(0.0)).alias("d"),
        )
        .orderBy(
            F.col("d").asc_nulls_first(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        )
        .limit(50)
    )
    oracle = duck.sql("""
        SELECT l_orderkey, l_linenumber, nullif(l_discount, 0.0) AS d
        FROM lineitem
        ORDER BY d ASC NULLS FIRST, l_orderkey, l_linenumber
        LIMIT 50
    """).df()
    assert oracle["d"].isna().any(), "case is vacuous without NULLs in the window"
    errors = compare(df, oracle, "nulls_first")
    assert not errors, "\n".join(errors)

    df_last = (
        li.select(
            "l_orderkey", "l_linenumber",
            F.nullif(F.col("l_discount"), F.lit(0.0)).alias("d"),
        )
        .orderBy(
            F.col("d").desc_nulls_last(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        )
        .limit(50)
    )
    oracle_last = duck.sql("""
        SELECT l_orderkey, l_linenumber, nullif(l_discount, 0.0) AS d
        FROM lineitem
        ORDER BY d DESC NULLS LAST, l_orderkey, l_linenumber
        LIMIT 50
    """).df()
    errors = compare(df_last, oracle_last, "nulls_last")
    assert not errors, "\n".join(errors)


# ---- join-shape differential cases (VERDICT r7 task 3) ----------------------
# Random left/right/full-outer and semi/anti joins composed with the same
# predicate/aggregate grammar — outer-join NULL fabrication and EXISTS/NOT
# EXISTS compilation are exactly where silent null-handling divergences
# hide (count(col) vs count(*), NULL group keys, aggs over all-NULL sides).

JOIN_TYPES = ["inner", "left", "right", "full", "left_semi", "left_anti"]


def _ord_pred(rng):
    kind = rng.choice(["status", "price", "date"])
    if kind == "status":
        vals = sorted(rng.sample(["F", "O", "P"], rng.randint(1, 2)))
        return ("isin", "o_orderstatus", vals)
    if kind == "price":
        return (rng.choice(["<", ">="]), "o_totalprice",
                round(rng.uniform(1000.0, 300000.0), 2))
    y1 = rng.randint(1993, 1997)
    return ("daterange", "o_orderdate", f"{y1}-01-01", f"{y1 + rng.randint(1, 3)}-01-01")


def _gen_join_case(rng):
    jt = rng.choice(JOIN_TYPES)
    l_preds = [g(rng) for g in rng.sample([_num_pred, _cat_pred, _date_pred],
                                          rng.randint(1, 2))]
    r_preds = [_ord_pred(rng)]
    if jt in ("left_semi", "left_anti"):
        keys = rng.sample(["l_returnflag", "l_linestatus", "ship_year"], rng.randint(0, 2))
        aggs = rng.sample(sorted(AGG_SQL), rng.randint(1, 2))
    else:
        # o_orderstatus as a key probes NULL group keys on outer joins;
        # n_orders = count(o_totalprice) probes NULL-skipping counts
        keys = rng.sample(["l_returnflag", "o_orderstatus", "ship_year"], rng.randint(0, 2))
        aggs = rng.sample(sorted(AGG_SQL), rng.randint(1, 2)) + ["n_orders"]
    return {"type": jt, "l_preds": l_preds, "r_preds": r_preds,
            "keys": keys, "aggs": aggs}


def _conj_col(preds):
    cond = _pred_col(preds[0])
    for p in preds[1:]:
        cond = cond & _pred_col(p)
    return cond


def _join_spark(spark, case):
    l = load_table(spark, SF_SMALL, "lineitem").where(_conj_col(case["l_preds"]))
    o = load_table(spark, SF_SMALL, "orders").where(_conj_col(case["r_preds"]))
    df = l.join(o, l.l_orderkey == o.o_orderkey, case["type"])
    key_cols = [
        F.year("l_shipdate").cast("long").alias("ship_year") if k == "ship_year"
        else F.col(k)
        for k in case["keys"]
    ]
    agg_cols = [
        F.count("o_totalprice").alias("n_orders") if a == "n_orders" else _agg_col(a)
        for a in case["aggs"]
    ]
    return df.groupBy(*key_cols).agg(*agg_cols) if key_cols else df.agg(*agg_cols)


def _join_sql(case):
    lw = " AND ".join(_pred_sql(p) for p in case["l_preds"])
    rw = " AND ".join(_pred_sql(p) for p in case["r_preds"])
    jt = case["type"]
    if jt in ("left_semi", "left_anti"):
        neg = "NOT " if jt == "left_anti" else ""
        src = (f"lineitem WHERE {lw} AND {neg}EXISTS (SELECT 1 FROM orders "
               f"WHERE o_orderkey = l_orderkey AND {rw})")
    else:
        kw = {"inner": "JOIN", "left": "LEFT JOIN", "right": "RIGHT JOIN",
              "full": "FULL JOIN"}[jt]
        src = (f"(SELECT * FROM lineitem WHERE {lw}) {kw} "
               f"(SELECT * FROM orders WHERE {rw}) ON l_orderkey = o_orderkey")
    select = [f"{_key_sql(k)} AS {k}" if k == "ship_year" else k for k in case["keys"]]
    select += [
        "count(o_totalprice) AS n_orders" if a == "n_orders" else AGG_SQL[a]
        for a in case["aggs"]
    ]
    sql = f"SELECT {', '.join(select)} FROM {src}"
    if case["keys"]:
        sql += " GROUP BY " + ", ".join(_key_sql(k) for k in case["keys"])
    return sql


N_JOIN_CASES = 24
JOIN_CASES = [_gen_join_case(random.Random(31000 + i)) for i in range(N_JOIN_CASES)]
# every join type must actually occur in the corpus
assert {c["type"] for c in JOIN_CASES} == set(JOIN_TYPES)


@pytest.mark.parametrize("i", range(N_JOIN_CASES))
def test_join_shape_differential(spark, duck, i):
    case = JOIN_CASES[i]
    sql = _join_sql(case)
    oracle = duck.sql(sql).df()
    df = _join_spark(spark, case)
    errors = compare(df, oracle, f"join[{i}:{case['type']}]")
    assert not errors, f"spec={case}\nsql={sql}\n" + "\n".join(errors)


def test_join_cases_not_vacuous(duck):
    nonempty = sum(1 for c in JOIN_CASES if len(duck.sql(_join_sql(c)).df()) > 0)
    assert nonempty >= 0.6 * N_JOIN_CASES, f"only {nonempty}/{N_JOIN_CASES} return rows"


# ---- grouping-set differential cases ----------------------------------------
# ROLLUP / CUBE / GROUPING SETS randomly composed with the predicate and
# aggregate grammar; the grouping-bit id distinguishes aggregated-away
# levels from NULL data on both engines.

def _gen_grouping_case(rng):
    shape = rng.choice(["rollup", "cube", "sets"])
    nkeys = rng.randint(2, 3)
    keys = rng.sample(["l_returnflag", "l_linestatus", "ship_year"], nkeys)
    preds = [g(rng) for g in rng.sample([_num_pred, _cat_pred, _date_pred],
                                        rng.randint(1, 2))]
    aggs = rng.sample(sorted(AGG_SQL), rng.randint(1, 2))
    sets = None
    if shape == "sets":
        universe = [(), tuple(keys[:1]), tuple(keys[1:2]), tuple(keys)]
        sets = sorted(set(rng.sample(universe, rng.randint(2, 3))))
        # grouping(k) only binds to columns present in >=1 set (DuckDB
        # enforces this); trim the key list to the sets' union — never
        # empty: >=2 DISTINCT sets means at least one is non-empty
        keys = [k for k in keys if any(k in s for s in sets)]
    return {"shape": shape, "keys": keys, "preds": preds, "aggs": aggs, "sets": sets}


def _grouping_spark(spark, case):
    df = (
        load_table(spark, SF_SMALL, "lineitem")
        .where(_conj_col(case["preds"]))
        .withColumn("ship_year", F.year("l_shipdate").cast("long"))
    )
    keys = case["keys"]
    if case["shape"] == "rollup":
        g = df.rollup(*keys)
    elif case["shape"] == "cube":
        g = df.cube(*keys)
    else:
        g = df.groupingSets(
            [[F.col(k) for k in s] for s in case["sets"]],
            *[F.col(k) for k in keys],
        )
    gid = F.lit(0).cast("long")
    for k in keys:  # canonical bit order = key order
        gid = gid * 2 + F.grouping(k).cast("long")
    return g.agg(gid.alias("gid"), *[_agg_col(a) for a in case["aggs"]])


def _grouping_sql(case):
    keys = case["keys"]
    w = " AND ".join(_pred_sql(p) for p in case["preds"])
    src = (f"(SELECT *, year(l_shipdate)::BIGINT AS ship_year "
           f"FROM lineitem WHERE {w})")
    if case["shape"] == "rollup":
        gb = f"ROLLUP ({', '.join(keys)})"
    elif case["shape"] == "cube":
        gb = f"CUBE ({', '.join(keys)})"
    else:
        body = ", ".join("(" + ", ".join(s) + ")" for s in case["sets"])
        gb = f"GROUPING SETS ({body})"
    gid = " + ".join(
        f"grouping({k})::BIGINT * {2 ** (len(keys) - 1 - i)}"
        for i, k in enumerate(keys)
    )
    select = keys + [f"({gid}) AS gid"] + [AGG_SQL[a] for a in case["aggs"]]
    return f"SELECT {', '.join(select)} FROM {src} GROUP BY {gb}"


N_GROUPING_CASES = 15
GROUPING_CASES = [
    _gen_grouping_case(random.Random(47000 + i)) for i in range(N_GROUPING_CASES)
]
assert {c["shape"] for c in GROUPING_CASES} == {"rollup", "cube", "sets"}


@pytest.mark.parametrize("i", range(N_GROUPING_CASES))
def test_grouping_shape_differential(spark, duck, i):
    case = GROUPING_CASES[i]
    sql = _grouping_sql(case)
    oracle = duck.sql(sql).df()
    assert len(oracle) > 0, "vacuous grouping case"
    df = _grouping_spark(spark, case)
    errors = compare(df, oracle, f"grouping[{i}:{case['shape']}]")
    assert not errors, f"spec={case}\nsql={sql}\n" + "\n".join(errors)


# ---- composed shapes (round 9) ----------------------------------------------
# The sections above cover each feature family in ISOLATION (one join per
# case; grouping sets over one table); silent divergences now hide in
# COMPOSITIONS. Three new grammar dimensions: 3-table join chains,
# grouping sets OVER a join, and window functions OVER a join — plus a
# streaming differential (foreachBatch incremental vs batch recompute).

def _cust_pred(rng):
    kind = rng.choice(["segment", "acctbal"])
    if kind == "segment":
        vals = sorted(rng.sample(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            rng.randint(1, 3)))
        return ("isin", "c_mktsegment", vals)
    return (rng.choice(["<", ">="]), "c_acctbal", round(rng.uniform(-500, 8000), 2))


def _gen_chain_case(rng):
    jt1 = rng.choice(["inner", "left"])
    jt2 = rng.choice(["inner", "left", "right"])
    keys = rng.sample(
        ["l_returnflag", "o_orderstatus", "c_mktsegment", "ship_year"],
        rng.randint(1, 2))
    aggs = rng.sample(sorted(AGG_SQL), rng.randint(1, 2)) + ["n_cust"]
    return {"jt1": jt1, "jt2": jt2,
            "l_preds": [_num_pred(rng)], "r_preds": [_ord_pred(rng)],
            "c_preds": [_cust_pred(rng)], "keys": keys, "aggs": aggs}


def _chain_spark(spark, case):
    l = load_table(spark, SF_SMALL, "lineitem").where(_conj_col(case["l_preds"]))
    o = load_table(spark, SF_SMALL, "orders").where(_conj_col(case["r_preds"]))
    c = load_table(spark, SF_SMALL, "customer").where(_conj_col(case["c_preds"]))
    df = l.join(o, l.l_orderkey == o.o_orderkey, case["jt1"]).join(
        c, F.col("o_custkey") == c.c_custkey, case["jt2"])
    key_cols = [
        F.year("l_shipdate").cast("long").alias("ship_year") if k == "ship_year"
        else F.col(k) for k in case["keys"]]
    agg_cols = [
        F.count("c_acctbal").alias("n_cust") if a == "n_cust" else _agg_col(a)
        for a in case["aggs"]]
    return df.groupBy(*key_cols).agg(*agg_cols)


def _chain_sql(case):
    lw = " AND ".join(_pred_sql(p) for p in case["l_preds"])
    rw = " AND ".join(_pred_sql(p) for p in case["r_preds"])
    cw = " AND ".join(_pred_sql(p) for p in case["c_preds"])
    kw = {"inner": "JOIN", "left": "LEFT JOIN", "right": "RIGHT JOIN"}
    src = (f"(SELECT * FROM lineitem WHERE {lw}) {kw[case['jt1']]} "
           f"(SELECT * FROM orders WHERE {rw}) ON l_orderkey = o_orderkey "
           f"{kw[case['jt2']]} (SELECT * FROM customer WHERE {cw}) "
           f"ON o_custkey = c_custkey")
    select = [f"{_key_sql(k)} AS {k}" if k == "ship_year" else k
              for k in case["keys"]]
    select += ["count(c_acctbal) AS n_cust" if a == "n_cust" else AGG_SQL[a]
               for a in case["aggs"]]
    return (f"SELECT {', '.join(select)} FROM {src} GROUP BY "
            + ", ".join(_key_sql(k) for k in case["keys"]))


N_CHAIN_CASES = 12
CHAIN_CASES = [_gen_chain_case(random.Random(53000 + i)) for i in range(N_CHAIN_CASES)]
assert {c["jt2"] for c in CHAIN_CASES} == {"inner", "left", "right"}


@pytest.mark.parametrize("i", range(N_CHAIN_CASES))
def test_join_chain_differential(spark, duck, i):
    case = CHAIN_CASES[i]
    sql = _chain_sql(case)
    oracle = duck.sql(sql).df()
    df = _chain_spark(spark, case)
    errors = compare(df, oracle, f"chain[{i}:{case['jt1']}+{case['jt2']}]")
    assert not errors, f"spec={case}\nsql={sql}\n" + "\n".join(errors)


def test_chain_cases_not_vacuous(duck):
    nonempty = sum(1 for c in CHAIN_CASES if len(duck.sql(_chain_sql(c)).df()) > 0)
    assert nonempty >= 0.6 * N_CHAIN_CASES


# ---- grouping sets OVER a join ----------------------------------------------

def _gen_join_grouping_case(rng):
    shape = rng.choice(["rollup", "cube", "sets"])
    keys = rng.sample(["l_returnflag", "o_orderstatus", "ship_year"], rng.randint(2, 3))
    sets = None
    if shape == "sets":
        universe = [(), tuple(keys[:1]), tuple(keys[1:2]), tuple(keys)]
        sets = sorted(set(rng.sample(universe, rng.randint(2, 3))))
        keys = [k for k in keys if any(k in s for s in sets)]
    return {"shape": shape, "keys": keys, "sets": sets,
            "l_preds": [_num_pred(rng)], "r_preds": [_ord_pred(rng)],
            "aggs": rng.sample(sorted(AGG_SQL), rng.randint(1, 2))}


def _join_grouping_spark(spark, case):
    l = load_table(spark, SF_SMALL, "lineitem").where(_conj_col(case["l_preds"]))
    o = load_table(spark, SF_SMALL, "orders").where(_conj_col(case["r_preds"]))
    df = (l.join(o, l.l_orderkey == o.o_orderkey)
          .withColumn("ship_year", F.year("l_shipdate").cast("long")))
    keys = case["keys"]
    if case["shape"] == "rollup":
        g = df.rollup(*keys)
    elif case["shape"] == "cube":
        g = df.cube(*keys)
    else:
        g = df.groupingSets(
            [[F.col(k) for k in s] for s in case["sets"]],
            *[F.col(k) for k in keys])
    gid = F.lit(0).cast("long")
    for k in keys:
        gid = gid * 2 + F.grouping(k).cast("long")
    return g.agg(gid.alias("gid"), *[_agg_col(a) for a in case["aggs"]])


def _join_grouping_sql(case):
    keys = case["keys"]
    lw = " AND ".join(_pred_sql(p) for p in case["l_preds"])
    rw = " AND ".join(_pred_sql(p) for p in case["r_preds"])
    src = (f"(SELECT *, year(l_shipdate)::BIGINT AS ship_year FROM "
           f"(SELECT * FROM lineitem WHERE {lw}) JOIN "
           f"(SELECT * FROM orders WHERE {rw}) ON l_orderkey = o_orderkey)")
    if case["shape"] == "rollup":
        gb = f"ROLLUP ({', '.join(keys)})"
    elif case["shape"] == "cube":
        gb = f"CUBE ({', '.join(keys)})"
    else:
        body = ", ".join("(" + ", ".join(s) + ")" for s in case["sets"])
        gb = f"GROUPING SETS ({body})"
    gid = " + ".join(f"grouping({k})::BIGINT * {2 ** (len(keys) - 1 - i)}"
                     for i, k in enumerate(keys))
    select = keys + [f"({gid}) AS gid"] + [AGG_SQL[a] for a in case["aggs"]]
    return f"SELECT {', '.join(select)} FROM {src} GROUP BY {gb}"


N_JG_CASES = 10
JG_CASES = [_gen_join_grouping_case(random.Random(59000 + i)) for i in range(N_JG_CASES)]
assert {c["shape"] for c in JG_CASES} == {"rollup", "cube", "sets"}


@pytest.mark.parametrize("i", range(N_JG_CASES))
def test_grouping_over_join_differential(spark, duck, i):
    case = JG_CASES[i]
    sql = _join_grouping_sql(case)
    oracle = duck.sql(sql).df()
    df = _join_grouping_spark(spark, case)
    lw = " AND ".join(_pred_sql(p) for p in case["l_preds"])
    rw = " AND ".join(_pred_sql(p) for p in case["r_preds"])
    n_input = duck.sql(
        f"SELECT count(*) n FROM (SELECT * FROM lineitem WHERE {lw}) JOIN "
        f"(SELECT * FROM orders WHERE {rw}) ON l_orderkey = o_orderkey"
    ).df()["n"][0]
    if n_input == 0:
        # documented engine divergence (found BY this fuzz dimension,
        # pinned in test_grouping_sets_on_empty_input_divergence): the
        # SQL standard emits the ()-set grand-total row on empty input,
        # Spark's cube/rollup/groupingSets emit nothing
        assert df.count() == 0
        grand = oracle[oracle["gid"] == oracle["gid"].max()]
        assert len(oracle) == len(grand)
        return
    errors = compare(df, oracle, f"jg[{i}:{case['shape']}]")
    assert not errors, f"spec={case}\nsql={sql}\n" + "\n".join(errors)


def test_grouping_sets_on_empty_input_divergence(spark, duck):
    """Pinned, known divergence our engine INHERITS from Spark: GROUP BY
    CUBE/ROLLUP/GROUPING SETS over an EMPTY input emits zero rows in
    Spark, while the SQL standard (DuckDB, Postgres) emits one row per
    () grouping set (count(*) = 0, like a global aggregate). Plain
    global aggregation (groupBy().agg) matches the standard on both.
    Surfaced by the grouping-over-join fuzz dimension; consumers
    needing standard semantics must union the global row explicitly."""
    t = load_table(spark, SF_SMALL, "lineitem").where("l_quantity > 1e9")
    assert t.cube("l_returnflag").agg(F.count(F.lit(1)).alias("n")).count() == 0
    assert t.rollup("l_returnflag").agg(F.count(F.lit(1)).alias("n")).count() == 0
    d = duck.sql(
        "SELECT l_returnflag, count(*) n FROM lineitem "
        "WHERE l_quantity > 1e9 GROUP BY CUBE (l_returnflag)"
    ).df()
    assert len(d) == 1 and d["n"][0] == 0  # the standard's grand-total row
    # global aggregation agrees across engines (1 row, count 0)
    assert t.agg(F.count(F.lit(1)).alias("n")).first()["n"] == 0


# ---- window functions OVER a join --------------------------------------------
# rank/dense_rank are deterministic under ties (equal order tuples share
# a rank); sum-over-partition uses the whole-partition frame. row_number
# is intentionally absent: the synthetic lineitem is not key-unique, so
# no tie-break makes it deterministic across engines.

def _gen_window_join_case(rng):
    wfn = rng.choice(["rank", "dense_rank", "psum"])
    part = rng.choice(["o_orderstatus", "l_returnflag"])
    return {"wfn": wfn, "part": part, "k": rng.randint(3, 8),
            "l_preds": [_num_pred(rng)], "r_preds": [_ord_pred(rng)]}


def _window_join_spark(spark, case):
    from pyspark.sql import Window

    l = load_table(spark, SF_SMALL, "lineitem").where(_conj_col(case["l_preds"]))
    o = load_table(spark, SF_SMALL, "orders").where(_conj_col(case["r_preds"]))
    df = l.join(o, l.l_orderkey == o.o_orderkey)
    if case["wfn"] == "psum":
        w = Window.partitionBy(case["part"])
        return df.select(
            F.col(case["part"]).alias("pk"),
            F.col("l_quantity").alias("qty"),
            F.round(F.sum("l_extendedprice").over(w), 4).alias("wval"))
    w = (Window.partitionBy(case["part"])
         .orderBy(F.col("l_extendedprice").desc(), F.col("l_orderkey")))
    fn = F.rank() if case["wfn"] == "rank" else F.dense_rank()
    return (df.select(F.col(case["part"]).alias("pk"),
                      F.col("l_extendedprice").alias("price"),
                      fn.over(w).alias("wval"))
            .where(F.col("wval") <= case["k"]))


def _window_join_sql(case):
    lw = " AND ".join(_pred_sql(p) for p in case["l_preds"])
    rw = " AND ".join(_pred_sql(p) for p in case["r_preds"])
    src = (f"(SELECT * FROM lineitem WHERE {lw}) JOIN "
           f"(SELECT * FROM orders WHERE {rw}) ON l_orderkey = o_orderkey")
    p = case["part"]
    if case["wfn"] == "psum":
        return (f"SELECT {p} AS pk, l_quantity AS qty, "
                f"round(sum(l_extendedprice) OVER (PARTITION BY {p}), 4) AS wval "
                f"FROM {src}")
    fn = "rank()" if case["wfn"] == "rank" else "dense_rank()"
    return (f"SELECT * FROM (SELECT {p} AS pk, l_extendedprice AS price, "
            f"{fn} OVER (PARTITION BY {p} ORDER BY l_extendedprice DESC, "
            f"l_orderkey) AS wval FROM {src}) WHERE wval <= {case['k']}")


N_WJ_CASES = 9
WJ_CASES = [_gen_window_join_case(random.Random(61000 + i)) for i in range(N_WJ_CASES)]
assert {c["wfn"] for c in WJ_CASES} == {"rank", "dense_rank", "psum"}


@pytest.mark.parametrize("i", range(N_WJ_CASES))
def test_window_over_join_differential(spark, duck, i):
    case = WJ_CASES[i]
    sql = _window_join_sql(case)
    oracle = duck.sql(sql).df()
    df = _window_join_spark(spark, case)
    errors = compare(df, oracle, f"wj[{i}:{case['wfn']}]")
    assert not errors, f"spec={case}\nsql={sql}\n" + "\n".join(errors)


# ---- streaming differential ---------------------------------------------
# foreachBatch incremental maintenance vs batch recompute: feed lineitem
# in chunks through a file stream, maintain per-key partials for several
# randomly generated (pred, keys, assoc-agg) cases in foreachBatch, and
# require the merged final state to EQUAL the one-shot batch groupBy.
# Aggregates are restricted to associative ones (sum/count/min/max) —
# the only ones an incremental consumer may merge this way.

def _gen_stream_case(rng):
    return {
        "preds": [rng.choice([_num_pred, _cat_pred])(rng)],
        "keys": rng.sample(["l_returnflag", "l_linestatus"], rng.randint(1, 2)),
        "aggs": rng.sample(["sum_qty", "n", "max_price", "min_disc"],
                           rng.randint(1, 3)),
    }


STREAM_CASES = [_gen_stream_case(random.Random(67000 + i)) for i in range(4)]
_MERGE = {
    "sum_qty": lambda a, b: a + b,
    "n": lambda a, b: a + b,
    "max_price": max,
    "min_disc": min,
}


def test_streaming_incremental_equals_batch_recompute(spark, tmp_path):
    li = load_table(spark, SF_SMALL, "lineitem")
    src = str(tmp_path / "chunks")
    # 4 chunks, one file each → 4 micro-batches under maxFilesPerTrigger=1
    li.withColumn("__c", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(4)))\
      .repartition(4, "__c").drop("__c").write.parquet(src)

    state: list[dict] = [dict() for _ in STREAM_CASES]

    def apply_batch(batch_df, _bid):
        for ci, case in enumerate(STREAM_CASES):
            part = (
                batch_df.where(_conj_col(case["preds"]))
                .groupBy(*case["keys"])
                .agg(*[_agg_col(a) for a in case["aggs"]])
                .collect()
            )
            for r in part:
                k = tuple(r[c] for c in case["keys"])
                cur = state[ci].get(k)
                vals = {a: r[a] for a in case["aggs"]}
                state[ci][k] = (
                    vals if cur is None
                    else {a: _MERGE[a](cur[a], vals[a]) for a in case["aggs"]}
                )

    q = (
        spark.readStream.schema(li.schema).option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    for ci, case in enumerate(STREAM_CASES):
        want = {
            tuple(r[c] for c in case["keys"]): {a: r[a] for a in case["aggs"]}
            for r in li.where(_conj_col(case["preds"]))
            .groupBy(*case["keys"])
            .agg(*[_agg_col(a) for a in case["aggs"]])
            .collect()
        }
        got = state[ci]
        assert set(got) == set(want), f"case {ci}: key sets differ"
        for k in want:
            for a in case["aggs"]:
                g, w = got[k][a], want[k][a]
                ok = (
                    abs(g - w) <= 1e-6 * max(1.0, abs(w))
                    if isinstance(w, float) else g == w
                )
                assert ok, f"case {ci} key {k} agg {a}: {g} != {w}"
        assert want, f"case {ci} vacuous"


# ---- join OVER an aggregate (aggregate-then-join) -------------------------
# The dual of grouping-over-join: a per-order aggregate of lineitem is
# joined to orders and re-aggregated — the shape every "top customers by
# revenue" query takes, probing aggregate-alias resolution through joins.

def _gen_agg_join_case(rng):
    jt = rng.choice(["inner", "left"])
    return {"jt": jt, "l_preds": [_num_pred(rng)], "r_preds": [_ord_pred(rng)],
            "inner_agg": rng.choice(["sum", "count", "max"]),
            "keys": rng.sample(["o_orderstatus", "o_orderpriority"], 1)}


def _agg_join_spark(spark, case):
    l = load_table(spark, SF_SMALL, "lineitem").where(_conj_col(case["l_preds"]))
    inner = {
        "sum": F.round(F.sum("l_extendedprice"), 4),
        "count": F.count(F.lit(1)),
        "max": F.max("l_quantity"),
    }[case["inner_agg"]]
    per_order = l.groupBy("l_orderkey").agg(inner.alias("m"))
    o = load_table(spark, SF_SMALL, "orders").where(_conj_col(case["r_preds"]))
    jt = case["jt"]
    # left join keeps orders with no qualifying lineitem (NULL m)
    df = (o.join(per_order, o.o_orderkey == per_order.l_orderkey, "left")
          if jt == "left"
          else per_order.join(o, per_order.l_orderkey == o.o_orderkey))
    k = case["keys"][0]
    return df.groupBy(k).agg(
        F.round(F.sum("m"), 4).alias("total_m"),
        F.count("m").alias("n_m"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def _agg_join_sql(case):
    lw = " AND ".join(_pred_sql(p) for p in case["l_preds"])
    rw = " AND ".join(_pred_sql(p) for p in case["r_preds"])
    inner = {
        "sum": "round(sum(l_extendedprice), 4)",
        "count": "count(*)",
        "max": "max(l_quantity)",
    }[case["inner_agg"]]
    per_order = (f"(SELECT l_orderkey, {inner} AS m FROM lineitem "
                 f"WHERE {lw} GROUP BY l_orderkey)")
    ow = f"(SELECT * FROM orders WHERE {rw})"
    if case["jt"] == "left":
        src = f"{ow} LEFT JOIN {per_order} ON o_orderkey = l_orderkey"
    else:
        src = f"{per_order} JOIN {ow} ON l_orderkey = o_orderkey"
    k = case["keys"][0]
    return (f"SELECT {k}, round(sum(m), 4) AS total_m, count(m) AS n_m, "
            f"count(*) AS n_rows FROM {src} GROUP BY {k}")


N_AJ_CASES = 8
AJ_CASES = [_gen_agg_join_case(random.Random(71000 + i)) for i in range(N_AJ_CASES)]
assert {c["jt"] for c in AJ_CASES} == {"inner", "left"}


@pytest.mark.parametrize("i", range(N_AJ_CASES))
def test_join_over_aggregate_differential(spark, duck, i):
    case = AJ_CASES[i]
    sql = _agg_join_sql(case)
    oracle = duck.sql(sql).df()
    assert len(oracle) > 0, "vacuous case"
    df = _agg_join_spark(spark, case)
    errors = compare(df, oracle, f"aj[{i}:{case['jt']}]")
    assert not errors, f"spec={case}\nsql={sql}\n" + "\n".join(errors)


# ---- null-injection differential (round 9) ---------------------------------
# Every dimension above runs over TPC-H columns, which are NOT NULL by
# construction — so the fuzz never exercised 3VL: null group keys, null
# aggregate inputs, null join keys, IS [NOT] DISTINCT FROM. Build ONE
# null-injected derived relation identically on both engines (nulls
# seeded deterministically from key columns) and fuzz over it.

_NLI_SQL = (
    "(SELECT l_orderkey,"
    " CASE WHEN l_orderkey % 7 = 0 THEN NULL ELSE l_quantity END AS q,"
    " CASE WHEN l_partkey % 5 = 0 THEN NULL ELSE l_returnflag END AS flag,"
    " CASE WHEN l_suppkey % 3 = 0 THEN NULL ELSE l_suppkey END AS sk,"
    " l_extendedprice AS price, l_linestatus AS status FROM lineitem)"
)


def _nli_spark(spark):
    li = load_table(spark, SF_SMALL, "lineitem")
    return li.select(
        "l_orderkey",
        F.when(F.col("l_orderkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("l_quantity")).alias("q"),
        F.when(F.col("l_partkey") % 5 == 0, F.lit(None))
        .otherwise(F.col("l_returnflag")).alias("flag"),
        F.when(F.col("l_suppkey") % 3 == 0, F.lit(None))
        .otherwise(F.col("l_suppkey")).alias("sk"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_linestatus").alias("status"),
    )


def _null_pred(rng):
    kind = rng.choice(
        ["q_gt", "flag_is_null", "flag_not_null", "flag_ndistinct",
         "coalesce_q_gt", "q_null_or_gt"]
    )
    v = round(rng.uniform(5.0, 45.0), 2)
    val = rng.choice(["A", "N", "R"])
    return (kind, v, val)


def _null_pred_col(p):
    kind, v, val = p
    return {
        "q_gt": F.col("q") > v,
        "flag_is_null": F.col("flag").isNull(),
        "flag_not_null": F.col("flag").isNotNull(),
        # IS DISTINCT FROM: TRUE/FALSE, never NULL — the negated
        # null-safe equality
        "flag_ndistinct": ~F.col("flag").eqNullSafe(F.lit(val)),
        "coalesce_q_gt": F.coalesce(F.col("q"), F.lit(0.0)) > v,
        "q_null_or_gt": F.col("q").isNull() | (F.col("q") > v),
    }[kind]


def _null_pred_sql(p):
    kind, v, val = p
    return {
        "q_gt": f"q > {v}",
        "flag_is_null": "flag IS NULL",
        "flag_not_null": "flag IS NOT NULL",
        "flag_ndistinct": f"flag IS DISTINCT FROM '{val}'",
        "coalesce_q_gt": f"coalesce(q, 0.0) > {v}",
        "q_null_or_gt": f"(q IS NULL OR q > {v})",
    }[kind]


_NULL_AGGS = {
    # count(*) counts null rows; count(q)/min/avg/distinct skip them —
    # the exact asymmetry 3VL fuzzing exists to pin. Column builders are
    # LAZY (no active session at collection time).
    "n_star": (lambda: F.count(F.lit(1)), "count(*)"),
    "n_q": (lambda: F.count("q"), "count(q)"),
    "sum_q": (lambda: F.sum("q"), "sum(q)"),
    "avg_q": (lambda: F.round(F.avg("q"), 4), "round(avg(q), 4)"),
    "nd_flag": (lambda: F.countDistinct("flag"), "count(DISTINCT flag)"),
    "min_q": (lambda: F.min("q"), "min(q)"),
    "n_flag_null": (
        lambda: F.sum(F.when(F.col("flag").isNull(), 1).otherwise(0)),
        "sum(CASE WHEN flag IS NULL THEN 1 ELSE 0 END)",
    ),
}


def _gen_null_case(rng):
    return {
        "preds": [_null_pred(rng) for _ in range(rng.randint(1, 2))],
        "keys": rng.sample(["flag", "status"], rng.randint(0, 2)),
        "aggs": rng.sample(sorted(_NULL_AGGS), rng.randint(2, 4)),
        # join through the NULLABLE key sk: inner drops null-key rows,
        # left keeps them with null supplier columns
        "join": rng.choice([None, "inner", "left"]),
    }


def _null_spark(spark, case):
    df = _nli_spark(spark)
    cond = _null_pred_col(case["preds"][0])
    for p in case["preds"][1:]:
        cond = cond & _null_pred_col(p)
    df = df.where(cond)
    aggs = [_NULL_AGGS[a][0]().alias(a) for a in case["aggs"]]
    if case["join"]:
        s = load_table(spark, SF_SMALL, "supplier").select("s_suppkey", "s_acctbal")
        df = df.join(s, df.sk == s.s_suppkey, case["join"])
        aggs.append(F.count("s_acctbal").alias("n_s"))
    keys = case["keys"]
    return df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)


def _null_sql(case):
    src = f"{_NLI_SQL} nli"
    if case["join"]:
        jt = "JOIN" if case["join"] == "inner" else "LEFT JOIN"
        src += (" " + jt +
                " (SELECT s_suppkey, s_acctbal FROM supplier) s ON sk = s_suppkey")
    select = list(case["keys"]) + [
        f"{_NULL_AGGS[a][1]} AS {a}" for a in case["aggs"]
    ]
    if case["join"]:
        select.append("count(s_acctbal) AS n_s")
    where = " AND ".join(_null_pred_sql(p) for p in case["preds"])
    sql = f"SELECT {', '.join(select)} FROM {src} WHERE {where}"
    if case["keys"]:
        sql += " GROUP BY " + ", ".join(case["keys"])
    return sql


N_NULL_CASES = 14
NULL_CASES = [_gen_null_case(random.Random(81000 + i)) for i in range(N_NULL_CASES)]
assert any(c["join"] == "left" for c in NULL_CASES)
assert any(c["keys"] for c in NULL_CASES)


@pytest.mark.parametrize("i", range(N_NULL_CASES))
def test_null_injection_differential(spark, duck, i):
    case = NULL_CASES[i]
    sql = _null_sql(case)
    oracle = duck.sql(sql).df()
    df = _null_spark(spark, case)
    errors = compare(df, oracle, f"null[{i}]")
    assert not errors, f"spec={case}\nsql={sql}\n" + "\n".join(errors)


def test_null_cases_not_vacuous(duck):
    nonempty = sum(1 for c in NULL_CASES if len(duck.sql(_null_sql(c)).df()) > 0)
    assert nonempty >= 0.6 * N_NULL_CASES


# ---- decimal-arithmetic differential (round 9) ------------------------------
# Every numeric dimension above runs in DOUBLE. Money math runs in
# DECIMAL, where the engines apply their own precision/scale promotion
# rules (Spark: sum(p,s)->(p+10,s), mul->(p1+p2+1,s1+s2); DuckDB has its
# own) — divergence here means silent money corruption. Both engines
# compute in decimal end-to-end; only the FINAL projection casts to
# DOUBLE so the comparison is value-based, not scale-format-based.

_DEC_EXPRS = {
    "sum_dp": (
        lambda: F.sum("dp"),
        "sum(dp)",
    ),
    "rev": (  # the TPC-H revenue kernel, decimal-exact
        lambda: F.sum(F.col("dp") * (F.lit(1) - F.col("dd"))),
        "sum(dp * (1 - dd))",
    ),
    "charge": (
        lambda: F.sum(F.col("dp") * (F.lit(1) - F.col("dd")) * (F.lit(1) + F.col("dt"))),
        "sum(dp * (1 - dd) * (1 + dt))",
    ),
    "avg_dp": (
        lambda: F.avg("dp"),
        "avg(dp)",
    ),
    "max_net": (
        lambda: F.max(F.col("dp") - F.col("dp") * F.col("dd")),
        "max(dp - dp * dd)",
    ),
    "n": (
        lambda: F.count(F.lit(1)),
        "count(*)",
    ),
}


def _dec_spark(spark, case):
    li = load_table(spark, SF_SMALL, "lineitem").select(
        F.col("l_extendedprice").cast("decimal(12,2)").alias("dp"),
        F.col("l_discount").cast("decimal(12,4)").alias("dd"),
        F.col("l_tax").cast("decimal(12,4)").alias("dt"),
        "l_returnflag", "l_linestatus", "l_quantity",
    )
    df = li.where(F.col("l_quantity") > case["qmin"])
    aggs = [
        _DEC_EXPRS[e][0]().cast("double").alias(e) for e in case["exprs"]
    ]
    keys = case["keys"]
    return df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)


def _dec_sql(case):
    src = ("(SELECT CAST(l_extendedprice AS DECIMAL(12,2)) AS dp,"
           " CAST(l_discount AS DECIMAL(12,4)) AS dd,"
           " CAST(l_tax AS DECIMAL(12,4)) AS dt,"
           " l_returnflag, l_linestatus, l_quantity FROM lineitem)")
    select = list(case["keys"]) + [
        f"CAST({_DEC_EXPRS[e][1]} AS DOUBLE) AS {e}" for e in case["exprs"]
    ]
    sql = (f"SELECT {', '.join(select)} FROM {src} nli "
           f"WHERE l_quantity > {case['qmin']}")
    if case["keys"]:
        sql += " GROUP BY " + ", ".join(case["keys"])
    return sql


N_DEC_CASES = 10
DEC_CASES = [
    {
        "qmin": round(random.Random(61000 + i).uniform(0.0, 40.0), 2),
        "keys": random.Random(61000 + i).sample(
            ["l_returnflag", "l_linestatus"],
            random.Random(62000 + i).randint(0, 2)),
        "exprs": random.Random(63000 + i).sample(
            sorted(_DEC_EXPRS), random.Random(64000 + i).randint(2, 4)),
    }
    for i in range(N_DEC_CASES)
]
assert any("charge" in c["exprs"] for c in DEC_CASES)


@pytest.mark.parametrize("i", range(N_DEC_CASES))
def test_decimal_arith_differential(spark, duck, i):
    case = DEC_CASES[i]
    sql = _dec_sql(case)
    oracle = duck.sql(sql).df()
    assert len(oracle) > 0, "vacuous case"
    df = _dec_spark(spark, case)
    errors = compare(df, oracle, f"dec[{i}]")
    assert not errors, f"spec={case}\nsql={sql}\n" + "\n".join(errors)


def test_decimal_sum_is_exact_not_float(spark):
    """The decimal leg must actually run in decimal: a sum engineered to
    lose a cent in float64 accumulation stays exact in decimal. (0.01 is
    not representable in binary; 10M float adds drift ~1e-8 relative —
    decimal(12,2) sums are exact by construction.)"""
    from decimal import Decimal

    n = 100_000
    df = (spark.range(n)
          .select((F.lit("0.01").cast("decimal(12,2)")).alias("cent"))
          .agg(F.sum("cent").alias("total")))
    got = df.first()["total"]
    assert got == Decimal("1000.00")


# ---- LIKE-pattern differential (round 9) ------------------------------------
# LIKE/NOT LIKE/ILIKE with %, _, escaped literals — shared ANSI
# semantics (unlike the regexp dialects, which genuinely differ between
# Java regex and RE2 and are pinned by fixed cases instead). Patterns
# fuzz over part names (multi-word, shared prefixes) and container
# codes (fixed-width, underscore-friendly).

_LIKE_FIELDS = {
    # synthetic-part vocabulary: {cold,small,large,blue,...} ×
    # {widget,bolt,rod}; patterns mix %, _, infix/prefix/suffix anchors
    "p_name": ["%widget", "cold%", "%l_e%", "%o__%", "s_all%", "%bolt"],
    "p_brand": ["Brand#_3", "Brand#4%", "%#23", "Brand#__"],
    "p_type": ["PROMO%", "%DARD", "%ONOM%", "ST_NDARD", "_ARGE"],
}


def _gen_like_case(rng):
    field = rng.choice(sorted(_LIKE_FIELDS))
    return {
        "field": field,
        "pat": rng.choice(_LIKE_FIELDS[field]),
        "form": rng.choice(["like", "not_like", "ilike"]),
    }


def _like_spark(spark, case):
    p = load_table(spark, SF_SMALL, "part")
    c = F.col(case["field"])
    cond = {
        "like": c.like(case["pat"]),
        "not_like": ~c.like(case["pat"]),
        "ilike": c.ilike(case["pat"].upper()),
    }[case["form"]]
    return p.where(cond).groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("p_retailprice"), 4).alias("sum_price"),
    )


def _like_sql(case):
    op = {"like": "LIKE", "not_like": "NOT LIKE", "ilike": "ILIKE"}[case["form"]]
    pat = case["pat"].upper() if case["form"] == "ilike" else case["pat"]
    return (f"SELECT p_brand, count(*) AS n, "
            f"round(sum(p_retailprice), 4) AS sum_price FROM part "
            f"WHERE {case['field']} {op} '{pat}' GROUP BY p_brand")


N_LIKE_CASES = 12
LIKE_CASES = [_gen_like_case(random.Random(51000 + i)) for i in range(N_LIKE_CASES)]
assert {c["form"] for c in LIKE_CASES} == {"like", "not_like", "ilike"}


@pytest.mark.parametrize("i", range(N_LIKE_CASES))
def test_like_pattern_differential(spark, duck, i):
    case = LIKE_CASES[i]
    sql = _like_sql(case)
    oracle = duck.sql(sql).df()
    df = _like_spark(spark, case)
    errors = compare(df, oracle, f"like[{i}]")
    assert not errors, f"spec={case}\nsql={sql}\n" + "\n".join(errors)


def test_like_cases_not_vacuous(duck):
    nonempty = sum(1 for c in LIKE_CASES if len(duck.sql(_like_sql(c)).df()) > 0)
    assert nonempty >= 0.6 * N_LIKE_CASES


# ---- date-arithmetic differential (round 9) ----------------------------------

def test_date_arithmetic_differential(spark, duck):
    """Month arithmetic end-of-month clamping (Jan 31 + 1 month, leap
    days), last_day, date_trunc to month/week, datediff, quarter and
    ISO week — over handpicked edge dates where engines that disagree
    disagree LOUDLY. Day-of-week conventions differ by design (Spark
    1=Sunday, DuckDB 0=Sunday) — the lowering aligns them explicitly."""
    edge = "(VALUES (DATE '2024-01-31'), (DATE '2024-02-29'), (DATE '2023-02-28'), (DATE '2000-02-29'), (DATE '1999-12-31'), (DATE '2024-03-01')) t(d)"
    sql = f"""
      SELECT d,
             d + INTERVAL 1 MONTH AS plus_1m,
             d - INTERVAL 1 MONTH AS minus_1m,
             d + INTERVAL 13 MONTH AS plus_13m,
             last_day(d) AS eom,
             CAST(date_trunc('month', d) AS DATE) AS mstart,
             CAST(date_trunc('week', d) AS DATE) AS wstart,
             date_diff('day', DATE '1995-01-01', d)::BIGINT AS dd,
             quarter(d)::BIGINT AS q,
             weekofyear(d)::BIGINT AS iso_w,
             (dayofweek(d) + 1)::BIGINT AS dow_sunday1
      FROM {edge}"""
    oracle = duck.sql(sql).df()
    # DuckDB date + INTERVAL yields TIMESTAMP; align to DATE for compare
    for c in ("plus_1m", "minus_1m", "plus_13m"):
        oracle[c] = oracle[c].dt.date
    df = (
        spark.createDataFrame(
            [("2024-01-31",), ("2024-02-29",), ("2023-02-28",),
             ("2000-02-29",), ("1999-12-31",), ("2024-03-01",)], "d string")
        .select(F.col("d").cast("date"))
        .select(
            "d",
            F.add_months("d", 1).alias("plus_1m"),
            F.add_months("d", -1).alias("minus_1m"),
            F.add_months("d", 13).alias("plus_13m"),
            F.last_day("d").alias("eom"),
            F.date_trunc("month", "d").cast("date").alias("mstart"),
            F.date_trunc("week", "d").cast("date").alias("wstart"),
            F.datediff("d", F.lit("1995-01-01").cast("date"))
            .cast("long").alias("dd"),
            F.quarter("d").cast("long").alias("q"),
            F.weekofyear("d").cast("long").alias("iso_w"),
            F.dayofweek("d").cast("long").alias("dow_sunday1"),
        )
    )
    errors = compare(df, oracle, "date_arith")
    assert not errors, "\n".join(errors)


# ---- extreme-values differential (round 9) -----------------------------------

def test_extreme_values_differential(spark, duck):
    """IEEE specials and unicode through both engines: NaN ordering in
    min/max (both engines sort NaN above +inf), inf-absorbing sums,
    multibyte-aware length/substr/upper/reverse, and the empty-string ≠
    NULL distinction (both engines keep them distinct — the Oracle trap).
    Values go through an inline relation built identically on each side."""
    rows = [
        (1, float("nan"), "héllo wörld"),
        (2, float("inf"), "日本語テキスト"),
        (3, float("-inf"), ""),
        (4, 1.5, None),
        (5, -2.5, "MIXED case ÁÉÍ"),
        (6, 0.0, "a"),
    ]
    duck.sql("DROP TABLE IF EXISTS xtreme")
    duck.sql(
        "CREATE TEMP TABLE xtreme AS SELECT * FROM (VALUES "
        "(1, 'NaN'::DOUBLE, 'héllo wörld'), "
        "(2, 'Infinity'::DOUBLE, '日本語テキスト'), "
        "(3, '-Infinity'::DOUBLE, ''), "
        "(4, 1.5, NULL), "
        "(5, -2.5, 'MIXED case ÁÉÍ'), "
        "(6, 0.0, 'a')) t(id, x, s)"
    )
    sql = """
      SELECT count(*) AS n,
             count(s) AS n_s,
             sum(CASE WHEN s = '' THEN 1 ELSE 0 END) AS n_empty,
             max(x) AS max_x,
             min(x) AS min_x,
             max(length(s))::BIGINT AS max_len,
             max(upper(s)) AS max_upper,
             max(reverse(s)) AS max_rev,
             max(substr(s, 2, 3)) AS sub23
      FROM xtreme"""
    oracle = duck.sql(sql).df()
    df = (
        spark.createDataFrame(rows, "id long, x double, s string")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("s").alias("n_s"),
            F.sum(F.when(F.col("s") == "", 1).otherwise(0)).alias("n_empty"),
            F.max("x").alias("max_x"),
            F.min("x").alias("min_x"),
            F.max(F.length("s")).cast("long").alias("max_len"),
            F.max(F.upper("s")).alias("max_upper"),
            F.max(F.reverse("s")).alias("max_rev"),
            F.max(F.substring("s", 2, 3)).alias("sub23"),
        )
    )
    errors = compare(df, oracle, "extreme_values")
    assert not errors, "\n".join(errors)
    # NaN must actually be the max (both engines order NaN above +inf)
    import math
    assert math.isnan(df.first()["max_x"])


# ---- bag-semantics set ops (INTERSECT ALL / EXCEPT ALL) ----------------------

def test_bag_setop_differential(spark, duck):
    """INTERSECT ALL / EXCEPT ALL over duplicate-rich legs: bag
    multiplicities (min / truncated difference of per-row counts) are
    where a set-semantics shortcut silently diverges, so the comparison
    keys on exact per-row multiplicity."""
    l_sql = ("SELECT l_returnflag AS f, l_linestatus AS s FROM lineitem "
             "WHERE l_quantity > 25")
    # the right leg must be SMALLER per distinct row, else EXCEPT ALL's
    # truncated multiplicity difference is 0 everywhere (6 distinct rows)
    r_sql = ("SELECT l_returnflag AS f, l_linestatus AS s FROM lineitem "
             "WHERE l_extendedprice > 80000")
    for op, mk in (
        ("INTERSECT ALL", lambda a, b: a.intersectAll(b)),
        ("EXCEPT ALL", lambda a, b: a.exceptAll(b)),
    ):
        sql = (f"SELECT f, s, count(*) AS mult FROM "
               f"(({l_sql}) {op} ({r_sql})) GROUP BY f, s")
        oracle = duck.sql(sql).df()
        assert len(oracle) > 0
        li = load_table(spark, SF_SMALL, "lineitem")
        a = li.where(F.col("l_quantity") > 25).select(
            F.col("l_returnflag").alias("f"), F.col("l_linestatus").alias("s"))
        b = li.where(F.col("l_extendedprice") > 80000).select(
            F.col("l_returnflag").alias("f"), F.col("l_linestatus").alias("s"))
        df = mk(a, b).groupBy("f", "s").agg(F.count(F.lit(1)).alias("mult"))
        errors = compare(df, oracle, f"bag[{op}]")
        assert not errors, f"{op}\n" + "\n".join(errors)


# ---- known engine divergences, pinned -----------------------------------------

def test_division_by_zero_divergence_and_alignment(spark, duck):
    """Division by zero is a DOCUMENTED divergence: this engine runs
    Spark ANSI mode (x/0 raises DIVIDE_BY_ZERO), DuckDB returns NULL.
    The aligned lowering is Spark's try_divide ≡ DuckDB's `/` — pinned
    row-level over a divisor that hits zero on real rows. try_cast of
    garbage is NULL on both."""
    from pyspark.errors.exceptions.captured import ArithmeticException

    # Spark's own behavior: ANSI division by zero raises
    with pytest.raises(ArithmeticException):
        (spark.range(3)
         .select((F.lit(1.0) / (F.col("id") - 1)).alias("x"))
         .collect())

    sql = f"""
      SELECT l_orderkey, l_linenumber,
             round(l_extendedprice / (l_orderkey % 7), 4) AS ratio,
             TRY_CAST(l_returnflag AS INT) AS junk_cast
      FROM lineitem WHERE {_SCALAR_FILTER}"""
    oracle = duck.sql(sql).df()
    n_null = int(oracle["ratio"].isna().sum())
    assert n_null > 0, "divisor never hits zero — case is vacuous"
    df = (
        load_table(spark, SF_SMALL, "lineitem")
        .where((F.col("l_shipdate") >= F.lit("1997-03-01"))
               & (F.col("l_shipdate") < F.lit("1997-04-01")))
        .select(
            "l_orderkey", "l_linenumber",
            F.round(F.try_divide("l_extendedprice", F.col("l_orderkey") % 7), 4)
            .alias("ratio"),
            F.expr("try_cast(l_returnflag AS int)").alias("junk_cast"),
        )
    )
    errors = compare(df, oracle, "div_zero_alignment")
    assert not errors, "\n".join(errors)


# ---- correlated scalar-aggregate subquery ------------------------------------

from binance_data_pipeline_spark.operators.subqueries import (  # noqa: E402
    scalar_agg_filter,
)


@pytest.fixture(scope="module")
def subq_views(spark):
    load_table(spark, SF_SMALL, "orders").createOrReplaceTempView("fz_orders")
    load_table(spark, SF_SMALL, "customer").createOrReplaceTempView("fz_customer")


def _gen_csq_case(rng):
    return {
        "op": rng.choice(["<", "<=", ">", ">="]),
        "agg": rng.choice(["avg", "max", "min", "sum"]),
        "mult": rng.choice([1, 3, 10]),
        "status": rng.choice(["F", "O", "P"]),
    }


def _csq_duck_sql(case):
    # orders vs the per-customer aggregate of THEIR OTHER orders with a
    # different status — a correlated scalar with genuinely empty groups
    return (f"SELECT o_orderstatus, count(*) AS n, "
            f"round(sum(o_totalprice), 4) AS sum_p "
            f"FROM orders o "
            f"WHERE o_totalprice {case['op']} ("
            f"SELECT {case['agg']}(i.o_totalprice) * {case['mult']} "
            f"FROM orders i WHERE i.o_custkey = o.o_custkey "
            f"AND i.o_orderstatus = '{case['status']}') "
            f"GROUP BY o_orderstatus")


def _csq_spark_sql(case):
    return _csq_duck_sql(case).replace("FROM orders", "FROM fz_orders")


def _csq_df(spark, case):
    o = load_table(spark, SF_SMALL, "orders")
    inner = load_table(spark, SF_SMALL, "orders").where(
        F.col("o_orderstatus") == case["status"])
    agg = {
        "avg": F.avg("o_totalprice"), "max": F.max("o_totalprice"),
        "min": F.min("o_totalprice"), "sum": F.sum("o_totalprice"),
    }[case["agg"]] * case["mult"]
    flt = scalar_agg_filter(
        o, "o_totalprice", case["op"], inner, agg,
        on=[("o_custkey", "o_custkey")])
    return flt.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 4).alias("sum_p"),
    )


N_CSQ_CASES = 8
CSQ_CASES = [_gen_csq_case(random.Random(21000 + i)) for i in range(N_CSQ_CASES)]


@pytest.mark.parametrize("i", range(N_CSQ_CASES))
def test_correlated_scalar_agg_differential(spark, duck, subq_views, i):
    """Three ways: DuckDB (oracle), Spark SQL's own correlated scalar
    subquery decorrelation, and the scalar_agg_filter helper. Probe rows
    whose correlation group is EMPTY in the inner (customers with no
    '<status>' orders) must drop on all three — the NULL-scalar rule."""
    case = CSQ_CASES[i]
    sql = _csq_duck_sql(case)
    oracle = duck.sql(sql).df()
    sdf = spark.sql(_csq_spark_sql(case))
    errors = compare(sdf, oracle, f"csq-sql[{i}]")
    assert not errors, f"spec={case}\nsql={sql}\n" + "\n".join(errors)
    hdf = _csq_df(spark, case)
    errors = compare(hdf, oracle, f"csq-df[{i}]")
    assert not errors, f"spec={case}\nsql={sql}\n" + "\n".join(errors)


# ---- correlated COUNT aggregates: the decorrelation trap ---------------------
# ANSI: a correlated COUNT over an empty group is 0, not NULL, so the
# probe compares against 0 instead of dropping. The probe expression is
# a small modulus of o_custkey so empty groups (customers with no
# '<status>' orders) genuinely flip rows in and out of the result.


def _gen_csq_count_case(rng):
    return {
        "op": rng.choice(["<", "<=", ">", ">=", "=", "<>"]),
        "agg": rng.choice(["count_star", "count_col", "count_nullable"]),
        "mod": rng.choice([2, 3, 5]),
        "status": rng.choice(["F", "O", "P"]),
    }


_COUNT_SQL = {
    "count_star": "count(*)",
    "count_col": "count(i.o_totalprice)",
    "count_nullable": ("count(CASE WHEN i.o_orderkey % 3 = 0 "
                       "THEN NULL ELSE i.o_totalprice END)"),
}


def _csq_count_duck_sql(case):
    return (f"SELECT o_orderstatus, count(*) AS n, "
            f"round(sum(o_totalprice), 4) AS sum_p "
            f"FROM orders o "
            f"WHERE o_custkey % {case['mod']} {case['op']} ("
            f"SELECT {_COUNT_SQL[case['agg']]} "
            f"FROM orders i WHERE i.o_custkey = o.o_custkey "
            f"AND i.o_orderstatus = '{case['status']}') "
            f"GROUP BY o_orderstatus")


def _csq_count_df(spark, case):
    o = load_table(spark, SF_SMALL, "orders")
    inner = load_table(spark, SF_SMALL, "orders").where(
        F.col("o_orderstatus") == case["status"])
    agg = {
        "count_star": F.count(F.lit(1)),
        "count_col": F.count("o_totalprice"),
        "count_nullable": F.count(
            F.when(F.col("o_orderkey") % 3 == 0, F.lit(None))
            .otherwise(F.col("o_totalprice"))),
    }[case["agg"]]
    flt = scalar_agg_filter(
        o, F.col("o_custkey") % case["mod"], case["op"], inner, agg,
        on=[("o_custkey", "o_custkey")])
    return flt.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 4).alias("sum_p"),
    )


N_CSQ_COUNT_CASES = 8
CSQ_COUNT_CASES = [
    _gen_csq_count_case(random.Random(23000 + i))
    for i in range(N_CSQ_COUNT_CASES)
]


def _csq_multikey_duck_sql(case):
    # correlate on TWO keys (custkey, orderpriority): far more empty
    # groups than single-key, and the helper's multi-column `on` path
    return (f"SELECT o_orderstatus, count(*) AS n, "
            f"round(sum(o_totalprice), 4) AS sum_p "
            f"FROM orders o "
            f"WHERE o_custkey % {case['mod']} {case['op']} ("
            f"SELECT {_COUNT_SQL[case['agg']]} "
            f"FROM orders i WHERE i.o_custkey = o.o_custkey "
            f"AND i.o_orderpriority = o.o_orderpriority "
            f"AND i.o_orderstatus = '{case['status']}') "
            f"GROUP BY o_orderstatus")


def _csq_multikey_df(spark, case):
    o = load_table(spark, SF_SMALL, "orders")
    inner = load_table(spark, SF_SMALL, "orders").where(
        F.col("o_orderstatus") == case["status"])
    agg = {
        "count_star": F.count(F.lit(1)),
        "count_col": F.count("o_totalprice"),
        "count_nullable": F.count(
            F.when(F.col("o_orderkey") % 3 == 0, F.lit(None))
            .otherwise(F.col("o_totalprice"))),
    }[case["agg"]]
    flt = scalar_agg_filter(
        o, F.col("o_custkey") % case["mod"], case["op"], inner, agg,
        on=[("o_custkey", "o_custkey"),
            ("o_orderpriority", "o_orderpriority")])
    return flt.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 4).alias("sum_p"),
    )


CSQ_MK_CASES = [_gen_csq_count_case(random.Random(24000 + i))
                for i in range(4)]


@pytest.mark.parametrize("i", range(len(CSQ_MK_CASES)))
def test_correlated_count_multikey_differential(spark, duck, subq_views, i):
    """Two-key correlation under COUNT: empty (custkey, priority) groups
    must compare against 0 on the helper's multi-column `on` path too."""
    case = CSQ_MK_CASES[i]
    sql = _csq_multikey_duck_sql(case)
    oracle = duck.sql(sql).df()
    sdf = spark.sql(sql.replace("FROM orders", "FROM fz_orders"))
    errors = compare(sdf, oracle, f"csq-mk-sql[{i}]")
    assert not errors, f"spec={case}\nsql={sql}\n" + "\n".join(errors)
    hdf = _csq_multikey_df(spark, case)
    errors = compare(hdf, oracle, f"csq-mk-df[{i}]")
    assert not errors, f"spec={case}\nsql={sql}\n" + "\n".join(errors)


def test_correlated_count_null_outer_key_is_zero(spark, duck, subq_views):
    """A NULL correlation key never matches (equality 3VL), so its group
    is EMPTY — under COUNT that means the scalar is 0, not NULL: rows
    with NULL keys survive a `>= count` probe. Pinned against DuckDB
    and Spark SQL text over an outer with injected NULL keys."""
    sql = ("SELECT count(*) AS n FROM ("
           "SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL "
           "ELSE o_custkey END AS ck, o_totalprice FROM orders) o "
           "WHERE 0 >= (SELECT count(*) FROM orders i "
           "WHERE i.o_custkey = o.ck AND i.o_totalprice > 500000)")
    oracle = duck.sql(sql).df()
    assert oracle["n"][0] > 0, "vacuous: no surviving rows at all"
    sdf = spark.sql(sql.replace("FROM orders", "FROM fz_orders"))
    errors = compare(sdf, oracle, "csq-nullkey-sql")
    assert not errors, "\n".join(errors)
    o = load_table(spark, SF_SMALL, "orders").select(
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("o_custkey")).alias("ck"), "o_totalprice")
    inner = load_table(spark, SF_SMALL, "orders").where(
        F.col("o_totalprice") > 500000)
    hdf = scalar_agg_filter(
        o, F.lit(0), ">=", inner, F.count(F.lit(1)), on=[("ck", "o_custkey")]
    ).agg(F.count(F.lit(1)).alias("n"))
    errors = compare(hdf, oracle, "csq-nullkey-df")
    assert not errors, "\n".join(errors)


@pytest.mark.parametrize("i", range(N_CSQ_COUNT_CASES))
def test_correlated_count_agg_differential(spark, duck, subq_views, i):
    """Correlated COUNT scalar subqueries three ways: DuckDB, Spark SQL
    text (both special-case COUNT in decorrelation — parity with them is
    the spec), and scalar_agg_filter. Probes whose correlation group is
    empty must compare against COUNT = 0, not drop — the defect VERDICT
    r9 confirmed in the pre-fix left-join lowering."""
    case = CSQ_COUNT_CASES[i]
    sql = _csq_count_duck_sql(case)
    oracle = duck.sql(sql).df()
    sdf = spark.sql(sql.replace("FROM orders", "FROM fz_orders"))
    errors = compare(sdf, oracle, f"csq-count-sql[{i}]")
    assert not errors, f"spec={case}\nsql={sql}\n" + "\n".join(errors)
    hdf = _csq_count_df(spark, case)
    errors = compare(hdf, oracle, f"csq-count-df[{i}]")
    assert not errors, f"spec={case}\nsql={sql}\n" + "\n".join(errors)


# ---- advanced aggregates differential ----------------------------------------

def test_advanced_aggregates_differential(spark, duck):
    """Ordered-set aggregates (percentile_cont/disc WITHIN GROUP,
    median), bivariate statistics (corr, covar_samp/pop, regr_slope/
    intercept/r2) and the FILTER clause, per group — numerically
    sensitive aggregates where engines could diverge in accumulation
    or interpolation. mode() is excluded deliberately: its tie-breaking
    is implementation-defined on both engines."""
    sql = """
      SELECT l_returnflag,
             percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity) AS p25,
             percentile_cont(0.75) WITHIN GROUP (ORDER BY l_quantity) AS p75,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity) AS p50d,
             median(l_quantity) AS med,
             round(corr(l_quantity, l_extendedprice), 6) AS r,
             round(covar_samp(l_quantity, l_extendedprice), 2) AS cs,
             round(covar_pop(l_quantity, l_extendedprice), 2) AS cp,
             round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
             round(regr_intercept(l_extendedprice, l_quantity), 2) AS icept,
             round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
             count(*) FILTER (WHERE l_discount > 0.05)::BIGINT AS n_hi_disc,
             round(sum(l_extendedprice) FILTER (WHERE l_tax = 0), 2) AS sum_notax
      FROM lineitem GROUP BY l_returnflag"""
    oracle = duck.sql(sql).df()
    df = (
        load_table(spark, SF_SMALL, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity)").alias("p25"),
            F.expr("percentile_cont(0.75) WITHIN GROUP (ORDER BY l_quantity)").alias("p75"),
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)").alias("p50d"),
            F.median("l_quantity").alias("med"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("r"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("cs"),
            F.round(F.covar_pop("l_quantity", "l_extendedprice"), 2).alias("cp"),
            F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
            F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 2).alias("icept"),
            F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
            F.expr("count(*) FILTER (WHERE l_discount > 0.05)").alias("n_hi_disc"),
            F.round(F.expr("sum(l_extendedprice) FILTER (WHERE l_tax = 0)"), 2).alias("sum_notax"),
        )
    )
    errors = compare(df, oracle, "advanced_aggs")
    assert not errors, "\n".join(errors)


# ---- lateral subquery differential -------------------------------------------

def test_lateral_topk_differential(spark, duck, subq_views):
    """Correlated LATERAL subquery (top-2 orders per customer by price)
    three ways: DuckDB LATERAL, Spark SQL LATERAL (Catalyst plans a
    DomainJoin/decorrelated limit), and the Window row_number lowering —
    all must produce the same row multiset. Ties on price are broken by
    o_orderkey so the top-2 is total-ordered."""
    sql = """
      SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      FROM customer c,
      LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
               WHERE o.o_custkey = c.c_custkey
               ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      WHERE c.c_acctbal > 0"""
    oracle = duck.sql(sql).df()
    assert len(oracle) > 0
    sdf = spark.sql(
        sql.replace("FROM customer c", "FROM fz_customer c")
           .replace("FROM orders o", "FROM fz_orders o"))
    errors = compare(sdf, oracle, "lateral-sql")
    assert not errors, "\n".join(errors)
    # window lowering
    from pyspark.sql import Window
    c = load_table(spark, SF_SMALL, "customer").where(F.col("c_acctbal") > 0)
    o = load_table(spark, SF_SMALL, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey"))
    top2 = (o.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= 2))
    wdf = (c.join(top2, c.c_custkey == top2.o_custkey)
           .select("c_custkey", "o_orderkey", "o_totalprice"))
    errors = compare(wdf, oracle, "lateral-window")
    assert not errors, "\n".join(errors)
