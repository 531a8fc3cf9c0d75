"""Multi-column Z-order (Morton) clustering keys for snapshot compaction.

`compact_snapshot(cluster_by=[a, b])` range-partitions + sorts
lexicographically — ideal for 1 column, but for 2+ the second column's
per-file ranges stay as wide as the table (a file sorted by (a, b)
covers ALL of b within each a-run). Z-ordering interleaves the BITS of
per-column rank buckets, so each output file covers a small HYPER-CUBE
of the value space and parquet footer min/max pruning skips files for
predicates on ANY subset of the clustered columns — the Delta OPTIMIZE
ZORDER idea (public docs/OSS), built from plain DataFrame expressions.

The reference has no storage tier at all (blind appends,
airflow/dags/ingest_binance_last_3_days.py:85-103); this module is part
of the snapshot-table family's answer to interactive slicing at 100 TB.

The key works for ANY orderable type (cuts are Python comparisons on a
bounded sample; the bucket CASE uses the column's own ``<``), and the
module returns a laid-out DataFrame, which is what
``compact_snapshot(zorder_by=…)`` needs — the write/commit stays the
snapshot table's own.

Scale shape:
- cut points come from ONE bounded sample (``sample_cap`` rows collected
  driver-side, a few KB per column) — never a global sort, never a
  window over the table;
- bucket assignment is a generated BINARY-SEARCH ``CASE`` expression
  (``bits`` comparisons per row, whole-stage codegen, no UDF);
- bit interleave is ``shiftleft``/``bitwise OR`` over the bucket ids —
  pure JVM map-side arithmetic;
- the only movement is the ``repartitionByRange`` the rewrite needed
  anyway; the z-key is dropped before the write.

Quantile-bucket (rather than value-range) cuts make the curve
data-adaptive: skewed columns still split into equal-mass buckets, so
no single z-tile holds a constant-prefix blob.

Seam caveat (inherent to every range-partitioned Z layout, incl.
Delta's OPTIMIZE ZORDER): the Morton curve makes large spatial jumps at
power-of-two boundaries, and ``repartitionByRange``'s sampled split
points don't align to them — so a MINORITY of output files straddle a
seam and carry a wide min/max on one column. The clustering guarantee
is therefore statistical (typical/median per-file spans shrink to
~range/2^bits · curve-block width), not a per-file worst-case bound;
footer pruning still skips the non-seam majority.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["zorder_key", "zorder_layout"]


def _sample_cuts(
    df: DataFrame, cols: list[str], bits: int, sample_cap: int, seed: int
) -> dict[str, list]:
    """Per-column quantile cut points from one bounded deterministic
    sample. Driver state: ≤ sample_cap rows × len(cols) scalars. The
    one extra ``count()`` is noise next to the rewrite that follows."""
    m = 1 << bits
    n = df.count()
    if n == 0:
        return {c: [] for c in cols}
    frac = min(1.0, (sample_cap * 1.2) / n)  # slight over-draw, capped below
    sampled = (
        df.select(*cols)
        if frac >= 1.0
        else df.select(*cols).sample(False, frac, seed)
    )
    rows = sampled.limit(sample_cap).collect()
    cuts: dict[str, list] = {}
    for c in cols:
        vals = sorted(r[c] for r in rows if r[c] is not None)
        if not vals:
            cuts[c] = []
            continue
        # m-1 interior cuts at equal sample mass; dedupe preserves order
        # (heavy hitters collapse cuts — their bucket just stays bigger)
        raw = [vals[(i * len(vals)) // m] for i in range(1, m)]
        seen, uniq = set(), []
        for v in raw:
            if v not in seen:
                seen.add(v)
                uniq.append(v)
        cuts[c] = uniq
    return cuts


def _bucket_expr(col: Column, cuts: list) -> Column:
    """Bucket id in [0, len(cuts)] via a generated binary-search CASE —
    depth = ceil(log2(buckets)) comparisons per row, all codegen'd.
    NULLs order first (bucket 0), matching Spark's NULLS FIRST sort."""
    if not cuts:
        return F.lit(0)

    def rec(lo: int, hi: int) -> Column:
        # value buckets [lo, hi); cuts[i-1] is the lower edge of bucket i
        if hi - lo == 1:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(col < F.lit(cuts[mid - 1]), rec(lo, mid)).otherwise(
            rec(mid, hi)
        )

    return F.when(col.isNull(), F.lit(0)).otherwise(rec(0, len(cuts) + 1))


def zorder_key(
    df: DataFrame,
    cols: list[str],
    bits: int = 6,
    sample_cap: int = 10_000,
    seed: int = 0,
) -> Column:
    """A long-typed Morton key interleaving ``bits``-bit quantile-rank
    buckets of each column (column j contributes bit i of its bucket id
    to z-bit ``i * len(cols) + j``). Sorting/range-partitioning by this
    key lays rows out along the Z curve: nearby keys = one small
    hyper-rectangle of the value space per file.

    Any orderable column type works (the cuts are Python comparisons on
    sampled values; the generated CASE uses the column's own ``<``).
    ``bits * len(cols)`` must fit a long (≤ 63)."""
    if not cols:
        raise ValueError("zorder_key needs at least one column")
    if bits < 1 or bits * len(cols) > 63:
        raise ValueError(
            f"bits={bits} with {len(cols)} columns does not fit a long key"
        )
    for c in cols:
        if c not in df.columns:
            raise ValueError(f"zorder column {c!r} not in DataFrame")
    cuts = _sample_cuts(df, cols, bits, sample_cap, seed)
    z = F.lit(0).cast("long")
    k = len(cols)
    for j, c in enumerate(cols):
        b = _bucket_expr(F.col(c), cuts[c]).cast("long")
        for i in range(bits):
            # bit i of bucket j lands at z-bit i*k + j: isolating with
            # AND then shifting by (i*k + j) - i keeps it one shiftleft
            z = z.bitwiseOR(
                F.shiftleft(b.bitwiseAND(F.lit(1 << i)), i * (k - 1) + j)
            )
    return z


def zorder_layout(
    df: DataFrame,
    cols: list[str],
    n_files: int,
    bits: int = 6,
    sample_cap: int = 10_000,
    seed: int = 0,
) -> DataFrame:
    """``df`` re-laid-out along the Z curve into ``n_files`` range
    partitions, each internally sorted by the key — what a writer
    persists so parquet footer min/max prune files for predicates on any
    subset of ``cols``. The helper column is dropped before return; the
    narrow projection preserves the partitioning and in-partition
    order."""
    key = zorder_key(df, cols, bits=bits, sample_cap=sample_cap, seed=seed)
    return (
        df.withColumn("__z", key)
        .repartitionByRange(max(1, int(n_files)), "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
