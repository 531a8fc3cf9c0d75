"""Exactly-once batch markers for APPEND-ONLY foreachBatch sinks.

Appends to an index (ivf, pq, lsh_index, bm25, the retrieval root) are
not replay-idempotent on their own: a re-delivered batch would append
its rows twice. The standard Structured Streaming recipe for an
idempotent sink is to record the foreachBatch ``batch_id`` once the
batch's effects have landed, and to skip any batch already recorded:

    {commits_path}/{batch_id}    one-row parquet marker per applied batch

``batch_committed`` is the replay guard (check FIRST) and
``commit_batch`` the marker write (call LAST). The marker lands in a
temp directory and moves into place with one Hadoop-FS rename (the
ivf.py build pattern — scheme-agnostic, atomic per rename on HDFS-like
stores), so a crash mid-commit leaves no half-marker.
"""

from __future__ import annotations

import uuid

from pyspark.sql import SparkSession

from .metacache import _hadoop_fs

__all__ = ["batch_committed", "commit_batch"]


def batch_committed(spark: SparkSession, commits_path: str, batch_id: int) -> bool:
    """True when ``commit_batch`` has recorded ``batch_id`` under
    ``commits_path`` — the replay guard for append-only streaming sinks.
    Check FIRST in foreachBatch; a hit means the batch's appends all
    landed and the replay must skip."""
    fs, p = _hadoop_fs(spark, f"{commits_path.rstrip('/')}/{int(batch_id)}")
    return fs.exists(p)


def commit_batch(spark: SparkSession, commits_path: str, batch_id: int) -> None:
    """Record ``batch_id`` as fully applied — call LAST, after every
    append of the batch has landed. The marker is a one-row parquet dir
    moved into place by a single rename, so a crash mid-commit leaves no
    half-marker; a crash BEFORE the commit leaves the batch uncommitted
    and the replay re-appends (the documented at-least-once window of
    append-only state)."""
    base = commits_path.rstrip("/")
    tmp = f"{base}/__commit_{uuid.uuid4().hex[:8]}"
    spark.createDataFrame([(int(batch_id),)], "batch_id long").coalesce(
        1
    ).write.mode("overwrite").parquet(tmp)
    fs, dest = _hadoop_fs(spark, f"{base}/{int(batch_id)}")
    _, tmp_p = _hadoop_fs(spark, tmp)
    if not fs.rename(tmp_p, dest):
        fs.delete(tmp_p, True)  # a racing replay already committed it
