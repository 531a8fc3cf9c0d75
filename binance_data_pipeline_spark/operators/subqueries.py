"""Correlated scalar-aggregate subquery as a DataFrame filter, with
exact ANSI semantics (`scalar_agg_filter`).

Spark SQL text supports correlated scalar subqueries natively, but the
DataFrame API has no subquery expression — users composing plans
programmatically end up hand-rolling the decorrelation join, and the
classic trap is the COUNT rule: a probe whose correlated group is EMPTY
compares against the aggregate's value over zero rows (0 for counts,
NULL for sum/avg/min/max), not against a missing row. The helper
encodes that rule in-plan and stays fully lazy (no driver action).

The catalog's `subquery_shapes` query (plans/advanced.py) runs its
`correlated_count` leg through this helper, so the oracle grades it.
Differential bar: `tests/test_differential_fuzz.py` pins it value-equal
to Spark SQL's own planning AND to DuckDB over randomized
null-injected cases.

Reference parity note: the reference pipeline has no subquery surface
(its one join is a pandas merge, `build_fact_fee_tax.py`); this module
is part of the engine-completeness extension surface (SURVEY.md §2 A+
subquery shapes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


_CMP = {
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
    "=": lambda a, b: a == b,
    "<>": lambda a, b: a != b,
    "!=": lambda a, b: a != b,
}


def scalar_agg_filter(
    df: DataFrame,
    col: str | Column,
    op: str,
    inner: DataFrame,
    agg: Column,
    on: list[tuple[str, str]],
) -> DataFrame:
    """Correlated scalar-aggregate subquery as a filter:

        SELECT * FROM df
        WHERE col <op> (SELECT <agg> FROM inner
                        WHERE inner.ik1 = df.ok1 AND ...)

    ``on`` is [(outer_col, inner_col), ...]. Exact ANSI semantics for
    EVERY aggregate, including the classic decorrelation COUNT trap: a
    probe group with NO inner rows compares against whatever the
    aggregate yields over ZERO rows — 0 for ``count(*)``/``count(col)``
    (and anything built on them, e.g. ``count(*) * 3``), NULL for
    sum/avg/min/max (comparison UNKNOWN, row dropped). NULL correlation
    keys never match (equality 3VL), so their group is empty too — with
    a count aggregate they compare against 0, as DuckDB and Spark SQL
    text (which special-cases COUNT in decorrelation) both do.

    Lowering: aggregate the inner per correlation key ONCE, left
    equi-join against the probe, and patch unmatched probes with the
    empty-group value — computed IN-PLAN as a one-row aggregate of the
    same ``agg`` expression over ``inner.limit(0)``, broadcast-cross-
    joined in. No driver action, fully lazy; group-bounded state, probe
    side joined on its own keys (broadcast when the aggregated inner is
    dim-sized, AQE's call); the empty-value leg is a zero-row scan.

    Pinned vs DuckDB and Spark SQL text (avg/max/min/sum AND
    count(*)/count(col) with probes hitting empty groups) by
    ``tests/test_differential_fuzz.py::test_correlated_scalar_agg_differential``
    / ``test_correlated_count_agg_differential``."""
    if op not in _CMP:
        raise ValueError(f"unsupported comparison {op!r}")
    probe = F.col(col) if isinstance(col, str) else col
    ikeys = [ic for _, ic in on]
    grouped = inner.groupBy(*ikeys).agg(agg.alias("__subq_agg")).select(
        *[F.col(ic).alias(f"__subq_k{i}") for i, (_, ic) in enumerate(on)],
        "__subq_agg",
        F.lit(True).alias("__subq_matched"),
    )
    # the aggregate's value over an empty input IS the ANSI empty-group
    # scalar (count-like -> 0, others -> NULL); a global agg over zero
    # rows always yields exactly one row, so this is a 1-row broadcast
    empty_val = inner.limit(0).agg(agg.alias("__subq_empty"))
    jc = None
    for i, (oc, _) in enumerate(on):
        c = F.col(oc) == grouped[f"__subq_k{i}"]
        jc = c if jc is None else jc & c
    out = df.join(grouped, on=jc, how="left").crossJoin(F.broadcast(empty_val))
    scalar = F.when(
        F.col("__subq_matched").isNull(), F.col("__subq_empty")
    ).otherwise(F.col("__subq_agg"))
    out = out.where(_CMP[op](probe, scalar))
    return out.drop(
        "__subq_agg", "__subq_matched", "__subq_empty",
        *[f"__subq_k{i}" for i in range(len(on))],
    )
