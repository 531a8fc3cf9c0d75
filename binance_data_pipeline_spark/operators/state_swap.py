"""Exactly-once mergeable-state maintenance for foreachBatch sinks.

Append-only streaming states (incremental_dedup, semdedup) are naturally
replay-idempotent: a re-delivered batch re-drops against state it already
wrote. MERGE states (sketch rollups: quantiles, heavy hitters) are not —
re-merging a replayed batch double-counts. The standard Structured
Streaming recipe for an idempotent sink is to commit the foreachBatch
``batch_id`` transactionally with the data; this module packages that
recipe for directory-swapped parquet state:

    {state_path}/table.parquet   the merged summary rows
    {state_path}/meta.parquet    (last_batch_id)

Both land in a temp directory and move into place with Hadoop-FS renames
(the ivf.py build pattern — scheme-agnostic, atomic per rename on
HDFS-like stores), so data and applied-batch-id can never disagree.

Crash safety is rename-aside, never delete-then-rename: the live dir is
renamed to ``{state_path}__prev`` BEFORE the new state is renamed into
place, and ``__prev`` is deleted only after the new state is live. Every
crash point leaves a complete state recoverable:

    crash after aside-rename, before commit-rename → dest missing,
        __prev holds the last committed state → readers/writers recover
        it by renaming __prev back to dest;
    crash after commit-rename, before __prev cleanup → dest is the NEW
        state, __prev is stale → next writer deletes the leftover.

Because the live dir is never deleted first, a concurrent writer's
commit-rename actually FAILS (the destination exists) instead of
silently clobbering a freshly committed state — that failure rolls the
aside-rename back and raises.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.errors import AnalysisException

from .metacache import _hadoop_fs

from ..session import local_rows

__all__ = ["merge_state_batch", "read_state", "batch_committed", "commit_batch"]


def batch_committed(spark: SparkSession, commits_path: str, batch_id: int) -> bool:
    """True when ``commit_batch`` has recorded ``batch_id`` under
    ``commits_path`` — the replay guard for APPEND-ONLY streaming states
    (incremental_dedup / semdedup), whose effects can't ride the dir-swap
    protocol the MERGE states use. Check FIRST in foreachBatch; a hit
    means the batch's appends all landed and the replay must skip."""
    fs, p = _hadoop_fs(spark, f"{commits_path.rstrip('/')}/{int(batch_id)}")
    return fs.exists(p)


def commit_batch(spark: SparkSession, commits_path: str, batch_id: int) -> None:
    """Record ``batch_id`` as fully applied — call LAST, after every
    append of the batch has landed. The marker is a one-row parquet dir
    moved into place by a single rename, so a crash mid-commit leaves no
    half-marker; a crash BEFORE the commit leaves the batch uncommitted
    and the replay re-appends (the documented at-least-once window of
    append-only state — re-drops are idempotent, audit rows may repeat
    per (doc, batch))."""
    base = commits_path.rstrip("/")
    tmp = f"{base}/__commit_{uuid.uuid4().hex[:8]}"
    spark.createDataFrame([(int(batch_id),)], "batch_id long").coalesce(
        1
    ).write.mode("overwrite").parquet(tmp)
    fs, dest = _hadoop_fs(spark, f"{base}/{int(batch_id)}")
    _, tmp_p = _hadoop_fs(spark, tmp)
    if not fs.rename(tmp_p, dest):
        fs.delete(tmp_p, True)  # a racing replay already committed it


def _recover_if_needed(spark: SparkSession, state: str) -> None:
    """If a crash left ``state`` missing but ``state__prev`` present,
    rename the previous committed state back into place."""
    fs, dest = _hadoop_fs(spark, state)
    _, prev = _hadoop_fs(spark, f"{state}__prev")
    if not fs.exists(dest) and fs.exists(prev):
        fs.rename(prev, dest)


def merge_state_batch(
    spark: SparkSession,
    state_path: str,
    build_batch_rows: Callable[[], DataFrame],
    merge_rows: Callable[[DataFrame], DataFrame],
    batch_id: int | None = None,
) -> None:
    """Fold one batch into the persisted state at ``state_path``.

    ``build_batch_rows()`` produces this batch's summary rows (called
    only when the batch is not a replay); ``merge_rows(union)`` collapses
    the union of prior-state rows and batch rows back to one row per
    group. ``batch_id`` enables the exactly-once replay guard; None
    disables the guard for THIS call (ad-hoc batch use) but preserves
    the previously committed id, so interleaved ad-hoc merges never
    reopen the replay window."""
    state = state_path.rstrip("/")
    _recover_if_needed(spark, state)
    prior = None
    prior_batch_id: int | None = None
    try:
        meta = spark.read.parquet(f"{state}/meta.parquet").first()
        if meta is not None:
            prior_batch_id = meta["last_batch_id"]
        if (
            batch_id is not None
            and prior_batch_id is not None
            and batch_id <= prior_batch_id
        ):
            return  # replayed batch: already folded into state
        prior = spark.read.parquet(f"{state}/table.parquet")
    except AnalysisException:
        prior = None

    batch_rows = build_batch_rows()
    merged = (
        merge_rows(prior.unionByName(batch_rows)) if prior is not None else batch_rows
    )
    committed_id = batch_id if batch_id is not None else prior_batch_id

    tmp = f"{state}__swap_{uuid.uuid4().hex[:8]}"
    merged.write.mode("overwrite").parquet(f"{tmp}/table.parquet")
    local_rows(
        spark, [(committed_id,)], "last_batch_id long"
    ).write.mode("overwrite").parquet(f"{tmp}/meta.parquet")

    fs, dest = _hadoop_fs(spark, state)
    _, tmp_p = _hadoop_fs(spark, tmp)
    _, prev = _hadoop_fs(spark, f"{state}__prev")
    if fs.exists(dest):
        # Stale __prev can only be a leftover from a crash AFTER a
        # successful commit-rename (dest is newer) — safe to drop.
        if fs.exists(prev):
            fs.delete(prev, True)
        if not fs.rename(dest, prev):
            fs.delete(tmp_p, True)
            raise RuntimeError(
                f"merge state at {state} is being concurrently replaced"
            )
    if not fs.rename(tmp_p, dest):
        # A concurrent writer committed between our aside-rename and now:
        # roll our aside back (if the racer did not already replace dest)
        # and surface the conflict instead of clobbering their commit.
        if fs.exists(prev) and not fs.exists(dest):
            fs.rename(prev, dest)
        fs.delete(tmp_p, True)
        raise RuntimeError(f"merge state at {state} was concurrently replaced")
    if fs.exists(prev):
        fs.delete(prev, True)


def read_state(spark: SparkSession, state_path: str) -> DataFrame:
    """The current merged state table (recovers from an interrupted swap)."""
    state = state_path.rstrip("/")
    _recover_if_needed(spark, state)
    return spark.read.parquet(f"{state}/table.parquet")
