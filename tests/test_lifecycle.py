"""Barrier lifecycle: ``barrier_scope`` releases only the blocks created
inside it and leaves RDDs the caller persisted before the scope alone."""

from __future__ import annotations

from binance_data_pipeline_spark.lifecycle import barrier_scope


def _persistent_ids(spark) -> set[int]:
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().keysIterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next())
    return ids


def test_barrier_scope_keeps_caller_persist(spark):
    before = _persistent_ids(spark)
    user = spark.range(1000).persist()
    assert user.count() == 1000
    user_ids = _persistent_ids(spark) - before
    assert user_ids  # the caller's cache holds blocks

    try:
        with barrier_scope(spark):
            ck = spark.range(500).localCheckpoint(eager=True)
            assert ck.count() == 500
            inner_ids = _persistent_ids(spark) - before - user_ids
            assert inner_ids  # the eager checkpoint holds blocks

        after = _persistent_ids(spark)
        assert user_ids <= after  # caller's persist survives the scope
        assert not inner_ids & after  # the scope's checkpoint is released
        assert user.count() == 1000
    finally:
        user.unpersist()
