"""Snapshot-versioned tables: commit visibility, time travel, rollback,
optimistic-concurrency retry, vacuum retention, crash-orphan hygiene."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import pytest

from binance_data_pipeline_spark.operators.snapshots import (
    _list_versions,
    commit_snapshot,
    read_snapshot,
    rollback_snapshot,
    snapshot_history,
    vacuum_snapshots,
)


def _df(spark, lo, hi, tag="a"):
    return spark.range(lo, hi).selectExpr("id", f"'{tag}' as tag")


def test_append_accumulates_and_time_travel_reads_old_versions(spark, tmp_path):
    t = str(tmp_path / "t")
    v0 = commit_snapshot(spark, t, _df(spark, 0, 10))
    v1 = commit_snapshot(spark, t, _df(spark, 10, 15))
    assert (v0, v1) == (0, 1)
    assert read_snapshot(spark, t).count() == 15
    assert read_snapshot(spark, t, version=0).count() == 10
    # v0 contents are frozen: later commits never mutate them
    assert sorted(
        r["id"] for r in read_snapshot(spark, t, version=0).collect()
    ) == list(range(10))


def test_overwrite_replaces_live_set_but_history_persists(spark, tmp_path):
    t = str(tmp_path / "t")
    commit_snapshot(spark, t, _df(spark, 0, 10, "old"))
    commit_snapshot(spark, t, _df(spark, 0, 3, "new"), mode="overwrite")
    latest = read_snapshot(spark, t)
    assert latest.count() == 3
    assert {r["tag"] for r in latest.collect()} == {"new"}
    assert read_snapshot(spark, t, version=0).count() == 10
    hist = {r["version"]: r["operation"] for r in snapshot_history(spark, t).collect()}
    assert hist == {0: "append", 1: "overwrite"}


def test_as_of_timestamp_resolution(spark, tmp_path):
    t = str(tmp_path / "t")
    commit_snapshot(spark, t, _df(spark, 0, 5))
    ts0 = snapshot_history(spark, t).first()["committed_at"]
    commit_snapshot(spark, t, _df(spark, 5, 9))
    assert read_snapshot(spark, t, as_of=ts0).count() == 5
    assert read_snapshot(spark, t, as_of=ts0 + 10_000).count() == 9
    with pytest.raises(ValueError, match="at or before"):
        read_snapshot(spark, t, as_of=ts0 - 10_000)
    with pytest.raises(ValueError, match="not both"):
        read_snapshot(spark, t, version=0, as_of=ts0)


def test_rollback_is_a_new_commit_pointing_at_old_dirs(spark, tmp_path):
    t = str(tmp_path / "t")
    commit_snapshot(spark, t, _df(spark, 0, 10, "good"))
    commit_snapshot(spark, t, _df(spark, 0, 99, "bad"), mode="overwrite")
    v = rollback_snapshot(spark, t, 0)
    assert v == 2
    assert read_snapshot(spark, t).count() == 10
    assert {r["tag"] for r in read_snapshot(spark, t).collect()} == {"good"}
    # the bad commit stays inspectable — history is append-only
    assert read_snapshot(spark, t, version=1).count() == 99
    ops = {r["version"]: r["operation"] for r in snapshot_history(spark, t).collect()}
    assert ops[2] == "rollback:0"
    with pytest.raises(ValueError, match="not in"):
        rollback_snapshot(spark, t, 77)


def test_lost_commit_race_retries_and_preserves_racer_rows(spark, tmp_path):
    """Simulate losing the version-number race: the racer's manifest
    appears between our data write and our manifest rename. The commit
    must land one version later WITH the racer's rows still live."""
    import binance_data_pipeline_spark.operators.snapshots as snap

    t = str(tmp_path / "t")
    commit_snapshot(spark, t, _df(spark, 0, 5, "base"))

    real_list = snap._list_versions
    fired = {"done": False}

    def racing_list(s, table):
        vs = real_list(s, table)
        if not fired["done"]:
            fired["done"] = True
            # the racer commits AFTER we read the version list
            commit_snapshot(s, table, _df(s, 100, 105, "racer"))
        return vs

    orig = snap._list_versions
    snap._list_versions = racing_list
    try:
        commit_snapshot(spark, t, _df(spark, 200, 203, "late"))
    finally:
        snap._list_versions = orig
    latest = read_snapshot(spark, t)
    tags = {r["tag"] for r in latest.collect()}
    assert tags == {"base", "racer", "late"}
    assert latest.count() == 13
    assert _list_versions(spark, t) == [0, 1, 2]


def test_vacuum_removes_expired_dirs_keeps_retained_versions(spark, tmp_path):
    t = str(tmp_path / "t")
    commit_snapshot(spark, t, _df(spark, 0, 10, "old"))
    commit_snapshot(spark, t, _df(spark, 0, 3, "mid"), mode="overwrite")
    commit_snapshot(spark, t, _df(spark, 0, 4, "new"), mode="overwrite")
    # a crashed commit's orphans: a data dir with no manifest + a tmp dir
    _df(spark, 0, 2, "orphan").write.parquet(f"{t}/data/deadbeef")
    _df(spark, 0, 1).write.parquet(f"{t}/__vtmp_crashed")

    out = vacuum_snapshots(spark, t, keep_versions=2, min_age_seconds=0)
    # v0's dir ("old") + orphan dir deleted; v1 ("mid") + v2 ("new") kept
    assert out["removed_data_dirs"] == 2
    assert out["removed_manifests"] == 1
    assert out["removed_tmp_dirs"] == 1
    assert read_snapshot(spark, t).count() == 4
    assert read_snapshot(spark, t, version=1).count() == 3
    with pytest.raises(ValueError, match="not in"):
        read_snapshot(spark, t, version=0)
    with pytest.raises(ValueError, match=">= 1"):
        vacuum_snapshots(spark, t, keep_versions=0)


def test_vacuum_min_age_protects_inflight_commit_dirs(spark, tmp_path):
    t = str(tmp_path / "t")
    commit_snapshot(spark, t, _df(spark, 0, 5))
    # an in-flight commit: data dir written, manifest not yet renamed
    _df(spark, 0, 2).write.parquet(f"{t}/data/inflight")
    out = vacuum_snapshots(spark, t, keep_versions=1, min_age_seconds=3600)
    assert out["removed_data_dirs"] == 0  # too young to reap
    import os

    assert os.path.isdir(f"{t}/data/inflight")


def test_orphan_dirs_invisible_to_readers(spark, tmp_path):
    t = str(tmp_path / "t")
    commit_snapshot(spark, t, _df(spark, 0, 7))
    _df(spark, 0, 50, "orphan").write.parquet(f"{t}/data/crashed")
    assert read_snapshot(spark, t).count() == 7


def test_schema_evolution_with_merge_schema(spark, tmp_path):
    t = str(tmp_path / "t")
    commit_snapshot(spark, t, spark.range(0, 3).selectExpr("id"))
    commit_snapshot(
        spark,
        t,
        spark.range(3, 5).selectExpr("id", "id * 2 as extra"),
        evolve_schema=True,
    )
    df = read_snapshot(spark, t, merge_schema=True)
    assert set(df.columns) == {"id", "extra"}
    assert df.where("extra is null").count() == 3


def test_partitioned_commit_prunes(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.range(0, 100).selectExpr("id", "cast(id % 4 as int) as bucket")
    commit_snapshot(spark, t, df, partition_by=["bucket"])
    got = read_snapshot(spark, t).where("bucket = 2")
    assert got.count() == 25
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "bucket" in plan


def test_stream_append_batch_replay_skips(spark, tmp_path):
    from binance_data_pipeline_spark.operators.snapshots import (
        snapshot_append_batch,
    )

    t = str(tmp_path / "t")
    assert snapshot_append_batch(spark, t, _df(spark, 0, 5), 0) == 0
    assert snapshot_append_batch(spark, t, _df(spark, 5, 8), 1) == 1
    # checkpoint-loss replay of both batches: nothing appends
    assert snapshot_append_batch(spark, t, _df(spark, 0, 5), 0) is None
    assert snapshot_append_batch(spark, t, _df(spark, 5, 8), 1) is None
    assert read_snapshot(spark, t).count() == 8
    assert len(_list_versions(spark, t)) == 2
    # an interleaved ad-hoc commit doesn't disturb the stream guard
    commit_snapshot(spark, t, _df(spark, 100, 101), operation="manual-fix")
    assert snapshot_append_batch(spark, t, _df(spark, 8, 10), 2) == 3
    assert read_snapshot(spark, t).count() == 11


def test_streaming_snapshot_append_end_to_end(spark, tmp_path):
    """File stream → snapshot table: every micro-batch a version;
    restart with a FRESH checkpoint (total checkpoint loss) re-delivers
    the files and the table must not double-count."""
    from binance_data_pipeline_spark.operators.snapshots import (
        streaming_snapshot_append,
    )

    src = str(tmp_path / "in")
    t = str(tmp_path / "t")
    _df(spark, 0, 6, "x").write.parquet(src)
    stream = spark.readStream.schema("id long, tag string").parquet(src)
    q = streaming_snapshot_append(
        stream, t, str(tmp_path / "cp1")
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)
    assert read_snapshot(spark, t).count() == 6

    # fresh checkpoint: the whole source replays as batch 0 again
    q2 = streaming_snapshot_append(
        stream, t, str(tmp_path / "cp2")
    ).trigger(availableNow=True).start()
    q2.awaitTermination(120)
    assert read_snapshot(spark, t).count() == 6
    hist = snapshot_history(spark, t).collect()
    assert [r["operation"] for r in hist] == ["stream-append:0"]


def test_compact_snapshot_preserves_rows_and_history(spark, tmp_path):
    from binance_data_pipeline_spark.operators.snapshots import compact_snapshot

    t = str(tmp_path / "t")
    for i in range(6):  # six tiny "micro-batch" commits
        commit_snapshot(spark, t, _df(spark, i * 10, i * 10 + 10))
    before = sorted(r["id"] for r in read_snapshot(spark, t).collect())
    v = compact_snapshot(spark, t, target_file_mb=128)
    assert v == 6
    after = read_snapshot(spark, t)
    assert sorted(r["id"] for r in after.collect()) == before
    # one live dir, one data file (60 tiny rows << 128 MB)
    import glob

    from binance_data_pipeline_spark.operators.snapshots import _live_dirs

    hist = {r["version"]: r for r in snapshot_history(spark, t).collect()}
    assert hist[6]["operation"] == "compact:6->1f"
    assert hist[6]["n_dirs"] == 1
    (compacted_dir,) = _live_dirs(spark, t, 6)
    assert len(glob.glob(f"{compacted_dir}/part-*.parquet")) == 1
    # pre-compaction version still time travels
    assert read_snapshot(spark, t, version=2).count() == 30
    with pytest.raises(ValueError, match="positive"):
        compact_snapshot(spark, t, target_file_mb=0)


def test_cli_snapshot_roundtrip(spark, tmp_path, capsys):
    """snapshot CLI: commit a parquet, print history, rollback, vacuum."""
    from binance_data_pipeline_spark.__main__ import main

    t = str(tmp_path / "t")
    src1, src2 = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    _df(spark, 0, 10, "a").write.parquet(src1)
    _df(spark, 0, 3, "b").write.parquet(src2)

    assert main(["snapshot", "--table", t, "--commit", src1]) == 0
    assert main(["snapshot", "--table", t, "--commit", src2, "--mode", "overwrite"]) == 0
    out = capsys.readouterr().out
    assert "committed version=0" in out and "committed version=1" in out
    assert read_snapshot(spark, t).count() == 3

    assert main(["snapshot", "--table", t, "--rollback", "0"]) == 0
    assert read_snapshot(spark, t).count() == 10

    # keyed CDC via the CLI: v1 (3 rows 'b') -> v2 (rollback to the 10
    # 'a' rows) = 7 re-inserts + 3 tag updates, before vacuum reaps v1
    assert main(["snapshot", "--table", t, "--diff", "1", "2",
                 "--keys", "id"]) == 0
    out = capsys.readouterr().out
    assert "rolled back to 0 as version=2" in out
    assert "insert=7 delete=0 update_preimage=3 update_postimage=3" in out

    assert main(["snapshot", "--table", t, "--vacuum", "--keep", "1",
                 "--min-age", "0"]) == 0
    out = capsys.readouterr().out
    assert "removed_manifests=2" in out
    assert read_snapshot(spark, t).count() == 10


def test_empty_table_and_bad_mode_raise(spark, tmp_path):
    t = str(tmp_path / "nope")
    with pytest.raises(ValueError, match="no committed"):
        read_snapshot(spark, t)
    with pytest.raises(ValueError, match="no committed"):
        snapshot_history(spark, t)
    with pytest.raises(ValueError, match="append"):
        commit_snapshot(spark, t, _df(spark, 0, 1), mode="upsert")


def test_snapshot_changes_feed(spark, tmp_path):
    from binance_data_pipeline_spark.operators.snapshots import (
        compact_snapshot,
        snapshot_changes,
    )

    t = str(tmp_path / "t")
    commit_snapshot(spark, t, _df(spark, 0, 5, "b0"))
    commit_snapshot(spark, t, _df(spark, 5, 8, "b1"))
    commit_snapshot(spark, t, _df(spark, 8, 12, "b2"))
    # changes 0 -> latest = batches 1 and 2 only
    ch = snapshot_changes(spark, t, 0)
    assert sorted(r["id"] for r in ch.collect()) == list(range(5, 12))
    assert {r["tag"] for r in ch.collect()} == {"b1", "b2"}
    # same-version range is empty with the right schema
    empty = snapshot_changes(spark, t, 2, 2)
    assert empty.count() == 0 and empty.columns == ["id", "tag"]
    # a rewrite breaks the feed loudly
    compact_snapshot(spark, t)
    with pytest.raises(ValueError, match="cross a rewrite"):
        snapshot_changes(spark, t, 0)
    # but post-rewrite appends feed again
    commit_snapshot(spark, t, _df(spark, 12, 14, "b3"))
    assert snapshot_changes(spark, t, 3).count() == 2
    with pytest.raises(ValueError, match="not in"):
        snapshot_changes(spark, t, 99)
    with pytest.raises(ValueError, match="<"):
        snapshot_changes(spark, t, 4, 3)


def test_snapshot_diff_keyed_cdc_across_rewrite(spark, tmp_path):
    from binance_data_pipeline_spark.operators.snapshots import snapshot_diff

    t = str(tmp_path / "t")
    commit_snapshot(spark, t, _df(spark, 0, 6, "v0"))  # keys 0..5
    # rewrite: drop 0-1, keep 2-5 with key 4 mutated, add 6-7
    post = spark.createDataFrame(
        [(2, "v0"), (3, "v0"), (4, "CHANGED"), (5, "v0"), (6, "new"), (7, "new")],
        "id long, tag string",
    )
    commit_snapshot(spark, t, post, mode="overwrite")
    d = snapshot_diff(spark, t, ["id"], 0, 1)
    got = {(r["id"], r["_change_type"]): r["tag"] for r in d.collect()}
    assert got == {
        (0, "delete"): "v0",
        (1, "delete"): "v0",
        (4, "update_preimage"): "v0",
        (4, "update_postimage"): "CHANGED",
        (6, "insert"): "new",
        (7, "insert"): "new",
    }
    assert d.columns == ["id", "tag", "_change_type"]
    # unchanged keys (2,3,5) are absent; same-version diff is empty
    assert snapshot_diff(spark, t, ["id"], 1, 1).count() == 0


def test_snapshot_diff_null_safe_and_schema_evolution(spark, tmp_path):
    from binance_data_pipeline_spark.operators.snapshots import snapshot_diff

    t = str(tmp_path / "t")
    v0 = spark.createDataFrame(
        [(1, None), (2, "x"), (None, "k")], "id long, tag string"
    )
    commit_snapshot(spark, t, v0)
    # schema evolves: new column `score`; NULL tag stays NULL (unchanged),
    # NULL key matches NULL key
    v1 = spark.createDataFrame(
        [(1, None, None), (2, "x", 0.5), (None, "k2", None)],
        "id long, tag string, score double",
    )
    commit_snapshot(spark, t, v1, mode="overwrite")
    d = snapshot_diff(spark, t, ["id"], 0, 1)
    rows = {(r["id"], r["_change_type"]): (r["tag"], r["score"]) for r in d.collect()}
    # key 1: tag NULL==NULL but score gains a NULL column on the pre side
    # too (aligned) -> unchanged; key 2 gains a score -> update; NULL key
    # matched null-safely, tag changed -> update
    assert (1, "update_preimage") not in rows and (1, "insert") not in rows
    assert rows[(2, "update_preimage")] == ("x", None)
    assert rows[(2, "update_postimage")] == ("x", 0.5)
    assert rows[(None, "update_preimage")] == ("k", None)
    assert rows[(None, "update_postimage")] == ("k2", None)
    assert len(rows) == 4


def test_snapshot_diff_duplicate_key_raises(spark, tmp_path):
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from binance_data_pipeline_spark.operators.snapshots import snapshot_diff

    t = str(tmp_path / "t")
    commit_snapshot(spark, t, _df(spark, 0, 3))
    dup = spark.createDataFrame([(1, "a"), (1, "b"), (9, "c")], "id long, tag string")
    commit_snapshot(spark, t, dup, mode="overwrite")
    with pytest.raises((SparkRuntimeException, Exception), match="duplicate key"):
        snapshot_diff(spark, t, ["id"], 0, 1).collect()


def test_snapshot_diff_plan_is_scale_clean(spark, tmp_path):
    """Two keyed hash aggs + ONE key-partitioned join + generate; no
    Python eval, no cartesian. (That the duplicate-key guard survives
    optimization is pinned behaviorally by
    test_snapshot_diff_duplicate_key_raises — the plan string truncates
    long projections, so asserting on its text would be brittle.)"""
    from binance_data_pipeline_spark.operators.snapshots import snapshot_diff
    from binance_data_pipeline_spark.plans.audit import assert_scale_clean, plan_text

    t = str(tmp_path / "t")
    commit_snapshot(spark, t, _df(spark, 0, 50))
    commit_snapshot(spark, t, _df(spark, 25, 75, "b"), mode="overwrite")
    d = snapshot_diff(spark, t, ["id"], 0, 1)
    assert_scale_clean(d)
    txt = plan_text(d)
    assert txt.count("SortMergeJoin") + txt.count("ShuffledHashJoin") == 1


def test_snapshot_merge_upsert_delete_and_cow_dirs(spark, tmp_path):
    """MERGE semantics + the copy-on-write contract: only dirs holding
    matched keys are rewritten; untouched dirs survive BY REFERENCE in
    the new manifest."""
    from binance_data_pipeline_spark.operators.snapshots import (
        _live_dirs,
        snapshot_merge,
    )

    t = str(tmp_path / "t")
    commit_snapshot(spark, t, _df(spark, 0, 5, "d0"))     # keys 0-4
    commit_snapshot(spark, t, _df(spark, 5, 10, "d1"))    # keys 5-9
    commit_snapshot(spark, t, _df(spark, 10, 15, "d2"))   # keys 10-14
    before = set(_live_dirs(spark, t, 2))

    upd = spark.createDataFrame(
        # update key 6 (dir d1), delete key 8 (dir d1), insert key 99
        [(6, "UPD", False), (8, "x", True), (99, "NEW", False), (500, "z", True)],
        "id long, tag string, is_delete boolean",
    )
    v = snapshot_merge(spark, t, upd, ["id"], delete_col="is_delete")
    assert v == 3
    got = {r["id"]: r["tag"] for r in read_snapshot(spark, t).collect()}
    assert got[6] == "UPD" and got[99] == "NEW"
    assert 8 not in got and 500 not in got  # deleted / delete-of-absent no-op
    assert len(got) == 15  # 15 - 1 delete + 1 insert
    assert {got[i] for i in range(5)} == {"d0"}
    # copy-on-write: d0 and d2 dirs unchanged by reference, d1 replaced
    after = set(_live_dirs(spark, t, 3))
    assert len(before & after) == 2 and len(after) == 3
    # history: pre-merge version still reads the old rows
    assert read_snapshot(spark, t, version=2).count() == 15
    ops = {r["version"]: r["operation"] for r in snapshot_history(spark, t).collect()}
    assert ops[3] == "merge:1d"


def test_snapshot_merge_diff_roundtrip_and_schema_evolution(spark, tmp_path):
    """snapshot_diff across a merge reports exactly the applied changes;
    an update batch with a NEW column evolves the schema (old rows NULL)."""
    from binance_data_pipeline_spark.operators.snapshots import (
        snapshot_diff,
        snapshot_merge,
    )

    t = str(tmp_path / "t")
    commit_snapshot(spark, t, _df(spark, 0, 4))
    upd = spark.createDataFrame(
        [(2, "two", 0.9), (7, "seven", 0.1)], "id long, tag string, score double"
    )
    v = snapshot_merge(spark, t, upd, ["id"])
    d = snapshot_diff(spark, t, ["id"], 0, v)
    got = {(r["id"], r["_change_type"]): (r["tag"], r["score"]) for r in d.collect()}
    assert got == {
        (2, "update_preimage"): ("a", None),
        (2, "update_postimage"): ("two", 0.9),
        (7, "insert"): ("seven", 0.1),
    }
    assert read_snapshot(spark, t, merge_schema=True).where(
        "score is null"
    ).count() == 3


def test_snapshot_merge_duplicate_update_keys_raise(spark, tmp_path):
    from binance_data_pipeline_spark.operators.snapshots import snapshot_merge

    t = str(tmp_path / "t")
    commit_snapshot(spark, t, _df(spark, 0, 3))
    dup = spark.createDataFrame([(1, "a"), (1, "b")], "id long, tag string")
    with pytest.raises(Exception, match="duplicate key"):
        snapshot_merge(spark, t, dup, ["id"])
    # the failed merge must not have committed anything
    assert _list_versions(spark, t) == [0]
    with pytest.raises(ValueError, match="missing from updates"):
        snapshot_merge(spark, t, _df(spark, 0, 1).drop("id"), ["id"])
    with pytest.raises(ValueError, match="delete_col"):
        snapshot_merge(spark, t, _df(spark, 0, 1), ["id"], delete_col="nope")


def test_snapshot_merge_preserves_partition_layout(spark, tmp_path):
    from binance_data_pipeline_spark.operators.snapshots import snapshot_merge

    t = str(tmp_path / "t")
    df = spark.range(0, 40).selectExpr(
        "id", "'a' as tag", "cast(id % 4 as int) as bucket"
    )
    commit_snapshot(spark, t, df, partition_by=["bucket"])
    upd = spark.createDataFrame([(2, "UPD", 2)], "id long, tag string, bucket int")
    snapshot_merge(spark, t, upd, ["id"], partition_by=["bucket"])
    got = read_snapshot(spark, t).where("bucket = 2")
    assert got.count() == 10
    assert {r["tag"] for r in got.collect()} == {"a", "UPD"}
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "bucket" in plan


def test_manifest_stats_recorded_inherited_and_pruning_reads(spark, tmp_path):
    """stats_cols records per-dir min/max in the manifest; later
    stats-less writers inherit the column set; read_snapshot_range
    scans ONLY dirs whose range can match (observed via inputFiles)."""
    import json as _json

    from binance_data_pipeline_spark.operators.snapshots import (
        _live_entries,
        read_snapshot_range,
    )

    t = str(tmp_path / "t")
    commit_snapshot(spark, t, _df(spark, 0, 5), stats_cols=["id"])
    commit_snapshot(spark, t, _df(spark, 100, 105))   # inherits ["id"]
    commit_snapshot(spark, t, _df(spark, 200, 205))
    entries = _live_entries(spark, t, 2)
    stats = {p: _json.loads(s)["id"] for p, s in entries}
    assert sorted((v["min"], v["max"]) for v in stats.values()) == [
        (0, 4), (100, 104), (200, 204),
    ]
    # ranged read: only the matching dir's files are listed into the scan
    got = read_snapshot_range(spark, t, "id", 100, 104)
    assert sorted(r["id"] for r in got.collect()) == list(range(100, 105))
    files = got.inputFiles()
    assert files and all("/data/" in f for f in files)
    matching = {p for p, v in stats.items() if v["min"] == 100}
    assert {f.rsplit("/data/", 1)[1].split("/")[0] for f in files} == {
        p.rsplit("/", 1)[-1] for p in matching
    }
    # open bounds + miss range
    assert read_snapshot_range(spark, t, "id", lo=200).count() == 5
    assert read_snapshot_range(spark, t, "id", 300, 400).count() == 0
    # residual row-level filter still applies inside a surviving dir
    assert read_snapshot_range(spark, t, "id", 101, 102).count() == 2


def test_prune_entries_unit_semantics(spark):
    from binance_data_pipeline_spark.operators.snapshots import _prune_entries

    e = [
        ("/d/a", '{"id": {"min": 0, "max": 4}}'),
        ("/d/b", '{"id": {"min": 10, "max": 14}}'),
        ("/d/c", None),                       # stats-less: never skipped
        ("/d/d", '{"other": {"min": 1, "max": 2}}'),  # no stats for col
        ("/d/e", '{"id": {"min": null, "max": null}}'),  # empty dir
    ]
    assert _prune_entries(e, "id", 11, 12) == ["/d/b", "/d/c", "/d/d", "/d/e"]
    assert _prune_entries(e, "id", None, None) == [p for p, _ in e]
    # string stats compare lexically; cross-type comparison never skips
    s = [("/d/s", '{"k": {"min": "apple", "max": "mango"}}')]
    assert _prune_entries(s, "k", "melon", None) == []
    assert _prune_entries(s, "k", "lemon", None) == ["/d/s"]
    assert _prune_entries(s, "k", 5, None) == ["/d/s"]


def test_merge_and_rollback_and_compact_carry_stats(spark, tmp_path):
    """Every rewriting op keeps the manifest stats alive: merge computes
    them for its new dir, rollback/compact carry or recompute, and a
    stats-pruned merge produces the same table as an unpruned one."""
    import json as _json

    from binance_data_pipeline_spark.operators.snapshots import (
        _live_entries,
        snapshot_merge,
    )

    t = str(tmp_path / "t")
    commit_snapshot(spark, t, _df(spark, 0, 5), stats_cols=["id"])
    commit_snapshot(spark, t, _df(spark, 100, 105))
    upd = spark.createDataFrame([(103, "UPD"), (50, "NEW")], "id long, tag string")
    v = snapshot_merge(spark, t, upd, ["id"])  # prunes dir [0,4] by stats
    got = {r["id"]: r["tag"] for r in read_snapshot(spark, t).collect()}
    assert got[103] == "UPD" and got[50] == "NEW" and len(got) == 11
    ents = {p: s for p, s in _live_entries(spark, t, v)}
    assert all(s is not None for s in ents.values())
    # untouched dir keeps (0,4); the rewritten dir spans insert..kept-max
    assert sorted(
        (_json.loads(s)["id"]["min"], _json.loads(s)["id"]["max"])
        for s in ents.values()
    ) == [(0, 4), (50, 104)]
    rb = rollback_snapshot(spark, t, 1)
    assert all(s is not None for _, s in _live_entries(spark, t, rb))
    from binance_data_pipeline_spark.operators.snapshots import compact_snapshot

    cv = compact_snapshot(spark, t)
    (pc, sc), = _live_entries(spark, t, cv)
    assert _json.loads(sc)["id"] == {"min": 0, "max": 104}


def test_compact_cluster_by_gives_file_level_locality(spark, tmp_path):
    """cluster_by compaction: rows preserved exactly, and each output
    file covers a near-disjoint id range (footer min/max pruning then
    skips whole files on ranged scans)."""
    import pyarrow.parquet as pq

    from binance_data_pipeline_spark.operators.snapshots import compact_snapshot

    t = str(tmp_path / "t")
    # interleaved commits so ids are scattered across dirs pre-compaction
    commit_snapshot(spark, t, spark.range(0, 1000, 3).selectExpr("id"))
    commit_snapshot(spark, t, spark.range(1, 1000, 3).selectExpr("id"))
    commit_snapshot(spark, t, spark.range(2, 1000, 3).selectExpr("id"))
    v = compact_snapshot(spark, t, target_file_mb=1, cluster_by=["id"])
    got = read_snapshot(spark, t, version=v)
    assert sorted(r["id"] for r in got.collect()) == list(range(1000))
    files = [f.replace("file:", "") for f in got.inputFiles()]
    spans = []
    for f in files:
        col = pq.read_table(f, columns=["id"])["id"].to_pylist()
        if col:
            spans.append((min(col), max(col)))
    spans.sort()
    # ranges are pairwise disjoint = range-partitioned and sorted
    assert all(a_hi < b_lo for (_, a_hi), (b_lo, _) in zip(spans, spans[1:]))
    with pytest.raises(ValueError, match="mutually exclusive"):
        compact_snapshot(spark, t, cluster_by=["id"], partition_by=["id"])


def test_incremental_compaction_coalesces_only_small_dirs(spark, tmp_path):
    """only_small_mb: tiny micro-batch dirs merge into one; the big dir
    survives BY REFERENCE (same path, stats intact); a second run with
    nothing left to coalesce is a version-preserving no-op."""
    import json as _json

    from binance_data_pipeline_spark.operators.snapshots import (
        _live_entries,
        compact_snapshot,
    )

    t = str(tmp_path / "t")
    # one "big" dir (incompressible rows to clear the threshold) + 3 tiny
    big = spark.range(0, 40000).selectExpr(
        "id", "sha2(cast(id as string), 512) as tag"
    )
    commit_snapshot(spark, t, big, stats_cols=["id"])
    for i in range(3):
        commit_snapshot(
            spark, t, spark.range(100000 + i, 100001 + i).selectExpr(
                "id", "'s' as tag"
            )
        )
    before = {p for p, _ in _live_entries(spark, t, 3)}
    assert len(before) == 4
    v = compact_snapshot(spark, t, target_file_mb=64, only_small_mb=1)
    entries = _live_entries(spark, t, v)
    after = {p for p, _ in entries}
    assert len(after) == 2 and len(before & after) == 1  # big kept by ref
    assert read_snapshot(spark, t).count() == 40003
    stats = {
        (_json.loads(s)["id"]["min"], _json.loads(s)["id"]["max"]) for _, s in entries
    }
    assert stats == {(0, 39999), (100000, 100002)}
    hist = {r["version"]: r["operation"] for r in snapshot_history(spark, t).collect()}
    assert hist[v] == "compact:3->1f"
    # nothing small left (the coalesced dir + big dir both exceed... the
    # coalesced dir is tiny, so one small dir remains -> still a no-op)
    assert compact_snapshot(spark, t, target_file_mb=64, only_small_mb=1) == v


def test_cli_snapshot_compact(spark, tmp_path, capsys):
    from binance_data_pipeline_spark.__main__ import main

    t = str(tmp_path / "t")
    src = str(tmp_path / "s.parquet")
    _df(spark, 0, 6).write.parquet(src)
    assert main(["snapshot", "--table", t, "--commit", src]) == 0
    src2 = str(tmp_path / "s2.parquet")
    _df(spark, 6, 9).write.parquet(src2)
    assert main(["snapshot", "--table", t, "--commit", src2]) == 0
    assert main(["snapshot", "--table", t, "--compact",
                 "--only-small-mb", "64", "--cluster-by", "id"]) == 0
    out = capsys.readouterr().out
    assert "compacted as version=2" in out
    assert read_snapshot(spark, t).count() == 9


def test_vacuum_keep_hours_time_retention(spark, tmp_path):
    """keep_hours retains every version committed inside the window even
    when keep_versions alone would reap it; outside the window the
    count-based floor still applies."""
    from binance_data_pipeline_spark.operators.snapshots import vacuum_snapshots

    t = str(tmp_path / "t")
    for i in range(4):
        commit_snapshot(spark, t, _df(spark, i * 5, (i + 1) * 5))
    # all four versions are seconds old: a 1-hour window keeps them all
    out = vacuum_snapshots(spark, t, keep_versions=1, min_age_seconds=0,
                           keep_hours=1.0)
    assert out["removed_manifests"] == 0 and out["retained_versions"] == 4
    assert read_snapshot(spark, t, version=0).count() == 5
    # a zero-hour window degrades to pure count-based retention
    out = vacuum_snapshots(spark, t, keep_versions=2, min_age_seconds=0,
                           keep_hours=0.0)
    assert out["removed_manifests"] == 2 and out["retained_versions"] == 2
    assert read_snapshot(spark, t).count() == 20  # latest live set intact


def test_snapshot_sync_routes_fast_path_and_cdc_fallback(spark, tmp_path):
    from binance_data_pipeline_spark.operators.snapshots import (
        compact_snapshot,
        snapshot_sync,
    )

    t = str(tmp_path / "t")
    commit_snapshot(spark, t, _df(spark, 0, 5))
    commit_snapshot(spark, t, _df(spark, 5, 8, "b"))
    # append-only range: fast path, inserts only, keyed column order
    s = snapshot_sync(spark, t, 0, key_cols=["id"])
    assert s.columns == ["id", "tag", "_change_type"]
    got = {(r["id"], r["_change_type"]) for r in s.collect()}
    assert got == {(i, "insert") for i in range(5, 8)}
    # rewrite crosses: keyed fallback produces the CDC diff
    compact_snapshot(spark, t)
    s2 = snapshot_sync(spark, t, 1, key_cols=["id"])
    assert s2.columns == ["id", "tag", "_change_type"]
    assert s2.count() == 0  # compaction changed no rows
    # keyless consumer gets the loud refusal
    with pytest.raises(ValueError, match="cross a rewrite"):
        snapshot_sync(spark, t, 1)


def test_merge_then_diff_randomized_model_check(spark, tmp_path):
    """Randomized (seeded) model check: apply a random MERGE batch, then
    snapshot_diff across it must equal an independent Python model of
    MERGE semantics — inserts/deletes/update pairs, nothing else."""
    import random

    from binance_data_pipeline_spark.operators.snapshots import (
        snapshot_diff,
        snapshot_merge,
    )

    for seed in (7, 23):
        rng = random.Random(seed)
        t = str(tmp_path / f"t{seed}")
        base = {i: rng.choice("abcde") for i in rng.sample(range(100), 40)}
        commit_snapshot(
            spark,
            t,
            spark.createDataFrame(sorted(base.items()), "id long, tag string"),
        )
        upd_keys = rng.sample(range(100), 25)
        upd = [
            (k, rng.choice("vwxyz"), rng.random() < 0.3) for k in upd_keys
        ]
        v = snapshot_merge(
            spark,
            t,
            spark.createDataFrame(upd, "id long, tag string, del boolean"),
            ["id"],
            delete_col="del",
        )
        # python model of the expected change set
        expected = {}
        for k, tag, is_del in upd:
            if is_del:
                if k in base:
                    expected[(k, "delete")] = base[k]
            elif k in base:
                if base[k] != tag:
                    expected[(k, "update_preimage")] = base[k]
                    expected[(k, "update_postimage")] = tag
            else:
                expected[(k, "insert")] = tag
        got = {
            (r["id"], r["_change_type"]): r["tag"]
            for r in snapshot_diff(spark, t, ["id"], 0, v).collect()
        }
        assert got == expected, f"seed {seed}"


def test_snapshot_cli_range(spark, tmp_path, capsys):
    from binance_data_pipeline_spark.__main__ import main

    t = str(tmp_path / "t")
    commit_snapshot(spark, t, _df(spark, 0, 10), stats_cols=["id"])
    commit_snapshot(spark, t, _df(spark, 10, 20, "b"))

    assert main(["snapshot", "--table", t, "--range", "id", "3", "12"]) == 0
    assert "range id in [3, 12]: 10 rows" in capsys.readouterr().out


def test_snapshot_tail_bootstrap_then_incremental_then_noop(spark, tmp_path):
    from binance_data_pipeline_spark.operators.snapshots import (
        snapshot_tail,
        tail_cursor,
    )

    t = str(tmp_path / "t")
    cur = str(tmp_path / "cursor")
    commit_snapshot(spark, t, _df(spark, 0, 5))
    seen = []

    def proc(batch, frm, to, mode):
        seen.append((frm, to, mode, {(r["id"], r["_change_type"]) for r in batch.collect()}))

    # first call ever: full-state bootstrap, cursor lands on head
    assert snapshot_tail(spark, t, cur, proc, key_cols=["id"]) == 0
    assert tail_cursor(spark, cur) == 0
    assert seen == [(None, 0, "bootstrap", {(i, "insert") for i in range(5)})]

    # two more commits, one tail round: ONE changes batch covering both
    commit_snapshot(spark, t, _df(spark, 5, 7, "b"))
    commit_snapshot(spark, t, _df(spark, 7, 9, "c"))
    assert snapshot_tail(spark, t, cur, proc, key_cols=["id"]) == 2
    assert seen[-1] == (0, 2, "changes", {(i, "insert") for i in range(5, 9)})

    # caught up: no-op round, process not called, cursor unchanged
    n = len(seen)
    assert snapshot_tail(spark, t, cur, proc, key_cols=["id"]) == 2
    assert len(seen) == n


def test_snapshot_tail_redelivers_after_process_crash(spark, tmp_path):
    from binance_data_pipeline_spark.operators.snapshots import (
        snapshot_tail,
        tail_cursor,
    )

    t = str(tmp_path / "t")
    cur = str(tmp_path / "cursor")
    commit_snapshot(spark, t, _df(spark, 0, 3))
    snapshot_tail(spark, t, cur, lambda *a: None)
    commit_snapshot(spark, t, _df(spark, 3, 6, "b"))

    def boom(batch, frm, to, mode):
        raise RuntimeError("sink down")

    with pytest.raises(RuntimeError, match="sink down"):
        snapshot_tail(spark, t, cur, boom)
    # cursor did NOT advance past the failed batch
    assert tail_cursor(spark, cur) == 0

    seen = []
    snapshot_tail(
        spark, t, cur,
        lambda b, f, to, m: seen.append((f, to, m, sorted(r["id"] for r in b.collect()))),
    )
    # the SAME range is redelivered (at-least-once; to_version = batch id)
    assert seen == [(0, 1, "changes", [3, 4, 5])]
    assert tail_cursor(spark, cur) == 1


def test_snapshot_tail_rewrite_refusal_and_bootstrap_resync(spark, tmp_path):
    from binance_data_pipeline_spark.operators.snapshots import (
        compact_snapshot,
        snapshot_tail,
        tail_cursor,
    )

    t = str(tmp_path / "t")
    commit_snapshot(spark, t, _df(spark, 0, 5))
    commit_snapshot(spark, t, _df(spark, 5, 8, "b"))

    # keyless tail bootstraps at v1, then a compaction rewrites the live set
    cur_a = str(tmp_path / "cur_a")
    snapshot_tail(spark, t, cur_a, lambda *a: None, max_rounds=1)
    compact_snapshot(spark, t)
    with pytest.raises(ValueError, match="cross a rewrite"):
        snapshot_tail(spark, t, cur_a, lambda *a: None)
    assert tail_cursor(spark, cur_a) == 1  # refused round left the cursor put

    seen = []
    snapshot_tail(
        spark, t, cur_a,
        lambda b, f, to, m: seen.append((f, to, m, b.count())),
        on_rewrite="bootstrap",
    )
    assert seen == [(None, 2, "bootstrap", 8)]
    assert tail_cursor(spark, cur_a) == 2

    # a KEYED tail crosses the same rewrite via the CDC fallback instead
    cur_b = str(tmp_path / "cur_b")
    snapshot_tail(spark, t, cur_b, lambda *a: None, key_cols=["id"])  # bootstrap at head
    commit_snapshot(spark, t, _df(spark, 8, 9, "d"))
    compact_snapshot(spark, t)
    keyed = []
    snapshot_tail(
        spark, t, cur_b,
        lambda b, f, to, m: keyed.append((f, to, m, {(r["id"], r["_change_type"]) for r in b.collect()})),
        key_cols=["id"],
    )
    assert keyed == [(2, 4, "changes", {(8, "insert")})]


def test_snapshot_tail_multi_round_with_injected_poll(spark, tmp_path):
    from binance_data_pipeline_spark.operators.snapshots import snapshot_tail

    t = str(tmp_path / "t")
    cur = str(tmp_path / "cursor")
    commit_snapshot(spark, t, _df(spark, 0, 2))
    polls = []

    def poll():
        polls.append(1)
        # a new commit lands while the tail sleeps
        if len(polls) == 1:
            commit_snapshot(spark, t, _df(spark, 2, 4, "b"))

    seen = []
    snapshot_tail(
        spark, t, cur,
        lambda b, f, to, m: seen.append((f, to, m)),
        max_rounds=3, poll=poll,
    )
    assert polls == [1, 1]  # poll runs BETWEEN rounds, not before the first
    assert seen == [(None, 0, "bootstrap"), (0, 1, "changes")]


def test_cli_snapshot_tail_drains_to_dest(spark, tmp_path, capsys):
    from binance_data_pipeline_spark.__main__ import main

    t = str(tmp_path / "t")
    src = str(tmp_path / "s.parquet")
    _df(spark, 0, 6).write.parquet(src)
    assert main(["snapshot", "--table", t, "--commit", src]) == 0
    dest = str(tmp_path / "drain")
    cur = str(tmp_path / "cursor")
    assert main(["snapshot", "--table", t, "--tail", dest, "--cursor", cur]) == 0
    out = capsys.readouterr().out
    assert "tail bootstrap vNone->v0" in out and "tail cursor=0" in out
    got = spark.read.parquet(f"{dest}/v00000000000")
    assert got.count() == 6 and "_change_type" in got.columns

    # second commit, second invocation: only the delta lands, new dir
    src2 = str(tmp_path / "s2.parquet")
    _df(spark, 6, 9, "b").write.parquet(src2)
    assert main(["snapshot", "--table", t, "--commit", src2]) == 0
    assert main(["snapshot", "--table", t, "--tail", dest, "--cursor", cur]) == 0
    assert "tail changes v0->v1" in capsys.readouterr().out
    assert spark.read.parquet(f"{dest}/v00000000001").count() == 3
