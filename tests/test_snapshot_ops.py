"""Ops surface for snapshot tables: DESCRIBE (`snapshot_detail`) and
vacuum dry-run — the sanity tools an operator points at a production
table before trusting a destructive nightly job."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import pytest

from binance_data_pipeline_spark.operators.snapshots import (
    commit_snapshot,
    read_snapshot,
    set_snapshot_constraints,
    snapshot_append_batch,
    snapshot_detail,
    vacuum_snapshots,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "cast(1 as int) as qty")


def test_snapshot_detail_reports_metadata_without_reading_rows(spark, tmp_path):
    t = str(tmp_path / "t")
    commit_snapshot(spark, t, _df(spark, 0, 10), stats_cols=["id"])
    snapshot_append_batch(spark, t, _df(spark, 10, 12), batch_id=7)
    set_snapshot_constraints(spark, t, {"qty_pos": "qty > 0"})
    d = snapshot_detail(spark, t)
    assert d["head_version"] == 1
    assert d["versions_retained"] == 2
    assert d["live_dirs"] == 2
    assert d["live_files"] >= 2
    assert d["live_bytes"] > 0
    assert d["stats_cols"] == ["id"]
    assert d["schema"] == {"id": "bigint", "qty": "int"}
    assert d["constraints"] == {"qty_pos": "qty > 0"}
    assert d["stream_hwm"] == 7
    assert d["head_operation"].startswith("stream-append:")
    # delta-log introspection: v1 is a delta resolving against ckpt v0;
    # no vacuum has run, so no sidecar checkpoints yet
    assert d["head_checkpoint_base"] == 0
    assert d["sidecar_ckpts"] == []


def test_vacuum_dry_run_reports_but_deletes_nothing(spark, tmp_path):
    t = str(tmp_path / "t")
    for i in range(4):
        commit_snapshot(spark, t, _df(spark, i, i + 1))
    dry = vacuum_snapshots(
        spark, t, keep_versions=1, min_age_seconds=0, dry_run=True
    )
    assert dry["dry_run"] is True
    assert dry["removed_manifests"] == 3
    # nothing actually gone: full history still time-travels
    assert read_snapshot(spark, t, version=0).count() == 1
    assert read_snapshot(spark, t).count() == 4
    # the real run then deletes exactly what the dry run reported
    real = vacuum_snapshots(
        spark, t, keep_versions=1, min_age_seconds=0, dry_run=False
    )
    assert real["dry_run"] is False
    assert real["removed_manifests"] == dry["removed_manifests"]
    assert real["removed_data_dirs"] == dry["removed_data_dirs"]
    with pytest.raises(Exception):
        read_snapshot(spark, t, version=0).count()


def test_cli_detail_and_dry_run(spark, tmp_path, capsys):
    from binance_data_pipeline_spark.__main__ import main

    t = str(tmp_path / "t")
    src = str(tmp_path / "s.parquet")
    _df(spark, 0, 5).write.parquet(src)
    assert main(["snapshot", "--table", t, "--commit", src]) == 0
    assert main(["snapshot", "--table", t, "--commit", src]) == 0
    assert main(["snapshot", "--table", t, "--detail"]) == 0
    out = capsys.readouterr().out
    assert '"head_version": 1' in out and '"live_dirs": 2' in out
    assert main(["snapshot", "--table", t, "--vacuum", "--keep", "1",
                 "--min-age", "0", "--dry-run"]) == 0
    out = capsys.readouterr().out
    assert "dry_run=True" in out
    assert read_snapshot(spark, t, version=0).count() == 5


def test_streaming_append_auto_compacts_every_n_batches(spark, tmp_path):
    """compact_every: the ingest loop tidies its own small files — after
    each committed batch an incremental compaction commit can follow the
    stream-append commit, rows intact, and a replayed batch (append
    no-op) triggers no compaction."""
    from binance_data_pipeline_spark.operators.snapshots import (
        snapshot_history,
        streaming_snapshot_append,
    )

    src = str(tmp_path / "in")
    t = str(tmp_path / "t")
    cp = str(tmp_path / "cp")

    def run(checkpoint):
        stream = spark.readStream.schema("id long, qty int").parquet(src)
        q = (
            streaming_snapshot_append(
                stream, t, checkpoint, compact_every=1, compact_small_mb=64
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _df(spark, 0, 8).write.mode("append").parquet(src)
    run(cp)  # batch 0: append; compaction no-ops (single live dir)
    _df(spark, 8, 12).write.mode("append").parquet(src)
    run(cp)  # batch 1: append -> 2 small dirs -> compaction commit
    ops = [r["operation"] for r in snapshot_history(spark, t).collect()]
    assert ops[:2] == ["stream-append:0", "stream-append:1"]
    assert sum(1 for o in ops if o.startswith("compact:")) == 1
    assert read_snapshot(spark, t).count() == 12

    # total checkpoint loss: everything replays as batch 0 <= hwm 1 —
    # the append no-ops and NO compaction commit is added
    run(str(tmp_path / "cp_fresh"))
    ops2 = [r["operation"] for r in snapshot_history(spark, t).collect()]
    assert ops2 == ops
    assert read_snapshot(spark, t).count() == 12
