"""Block-manager lifecycle for eager-checkpoint barriers.

Several operators materialize small reused intermediates with
``df.localCheckpoint(eager=True)`` (see operators/dedup.py:_materialize —
a lazy .cache() referenced from both sides of a self-join races the fill).
A local checkpoint persists its RDD blocks in the executor block manager
and TRUNCATES lineage, so the blocks stay pinned until the RDD is
garbage-collected JVM-side — which across a long multi-query session
(the 50-query catalog sweep, or a 100 TB batch job chaining dedup →
similarity → text stages) means every intermediate of every past query
accumulates in executor storage. On local[32] that shows up as bench
variance (python-worker eviction churn); on a real cluster it is
unbounded executor storage growth.

``release_barriers(spark)`` frees ALL persistent RDD blocks — the
localCheckpoint barriers plus any stray .persist() — via
SparkContext.getPersistentRDDs. Call it only at a point where no live
DataFrame still depends on a checkpointed block: after a query's result
has been collected/written, before the next query starts. Unpersisting a
local checkpoint that a pending DataFrame still needs is NOT recoverable
(lineage is gone), which is why this is an explicit between-queries hook
(bench.py, job boundaries) rather than something buried inside operators.

``barrier_scope(spark)`` is the scoped form for job code: it snapshots
the persistent RDD ids when the block opens and, on exit, releases only
the RDDs created inside the block — a caller's own .persist() made
before the scope stays cached.

Cites reference behavior: the reference's pandas pipeline holds each
intermediate only for the life of one task process
(transform/aggregate_ohlcv.py), so per-query release matches its
memory envelope.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import SparkSession


def persistent_rdd_count(spark: SparkSession) -> int:
    """Number of RDDs currently holding blocks in the block manager."""
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _persistent_rdds(spark: SparkSession) -> list:
    """JVM handles of every RDD currently holding blocks."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().valuesIterator()
    rdds = []
    while it.hasNext():
        rdds.append(it.next())
    return rdds


def release_barriers(spark: SparkSession, blocking: bool = False) -> int:
    """Unpersist every persistent RDD (eager localCheckpoint barriers and
    any .persist()), returning how many were released.

    Only call when no un-consumed DataFrame still depends on a
    checkpointed block: a local checkpoint cannot be recomputed after its
    blocks are dropped."""
    rdds = _persistent_rdds(spark)
    for rdd in rdds:
        rdd.unpersist(blocking)
    return len(rdds)


@contextmanager
def barrier_scope(spark: SparkSession):
    """Release all checkpoint/persist blocks created inside the block.

    RDDs that were already persistent when the block opened are left
    alone. Usage::

        with barrier_scope(spark):
            result = dedup_corpus(docs, ...)
            result.write.parquet(out)   # consume INSIDE the scope
    """
    before = {rdd.id() for rdd in _persistent_rdds(spark)}
    try:
        yield
    finally:
        for rdd in _persistent_rdds(spark):
            if rdd.id() not in before:
                rdd.unpersist(False)
