"""Deterministic corpus sampling and shuffling for the training-corpus
job (`jobs.build_training_corpus`): per-stratum sampling
(`stratified_sample`) and a reproducible global order
(`shuffle_deterministic`). No reference equivalent; LLM-pipeline
extension alongside dedup/text/similarity.

Both key off xxhash64(id, seed) rather than Spark's RNG-based
`sample`/`sampleBy`: a hash threshold gives the SAME row set under any
partitioning, any executor count, and re-runs — reproducibility is the
point for training corpora (`df.sample` draws per split boundary, so the
selection changes when the file layout does). Sampling is map-side; the
only shuffle is `shuffle_deterministic`'s range exchange.

Rates are approximate to ~1/sqrt(n·rate) like any Bernoulli sample, but
the DRAW is exact: a row's fate depends only on (id, seed).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: denominator for hash-threshold draws: uniform in [0, 1) with 2^31 grain
_GRAIN = 1 << 31


def _unit_hash(id_col: Column | str, seed: int) -> Column:
    """Deterministic uniform draw in [0, 1) per (id, seed)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.pmod(F.xxhash64(c, F.lit(seed)), F.lit(_GRAIN)) / F.lit(float(_GRAIN))


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    seed: int = 0,
) -> DataFrame:
    """Per-stratum hash-threshold sampling: `rates` maps stratum value →
    keep rate; unlisted strata keep `default_rate`. One map-side filter —
    the rate lookup is a literal map, so no join and no shuffle (contrast
    `df.sampleBy`, which is also per-stratum but RNG/partition-dependent)."""
    for k, v in rates.items():
        if not 0.0 <= v <= 1.0:
            raise ValueError(f"rate for stratum {k!r} must be in [0, 1], got {v}")
    rate_map = F.create_map(
        *[x for k, v in rates.items() for x in (F.lit(k), F.lit(float(v)))]
    )
    rate = F.coalesce(rate_map[F.col(strata_col)], F.lit(float(default_rate)))
    return df.where(_unit_hash(id_col, seed) < rate)


def shuffle_deterministic(df: DataFrame, id_col: str, seed: int = 0, num_partitions: int | None = None) -> DataFrame:
    """Global deterministic shuffle for training export: rows ordered by
    xxhash64(id, seed) — repartitionByRange on the hash + in-partition
    sort, so writing the partitions in order yields one reproducible
    permutation of the corpus (changing `seed` gives an independent one).
    One range exchange; no driver-side ordering."""
    key = F.xxhash64(F.col(id_col), F.lit(seed))
    parts = num_partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    return (
        df.withColumn("__shuffle_key", key)
        .repartitionByRange(int(parts), "__shuffle_key")
        .sortWithinPartitions("__shuffle_key")
        .drop("__shuffle_key")
    )
