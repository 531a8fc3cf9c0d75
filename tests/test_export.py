"""Shard export: deterministic content-keyed placement, one file per
shard, a manifest written last that gates reads, and jsonl/parquet
round-trips that preserve every row."""

from __future__ import annotations

import glob
import sys

sys.path.insert(0, "/root/repo")

import pytest
from pyspark.sql import functions as F

from binance_data_pipeline_spark.operators.export import export_shards, read_export


def _docs(spark, n=500):
    return spark.range(n).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("text-"), F.col("id")).alias("text")
    )


def test_export_shard_layout_and_manifest(spark, tmp_path):
    out = str(tmp_path / "exp")
    stats = export_shards(_docs(spark), out, "doc_id", n_shards=8)
    assert stats["n_shards"] == 8 and stats["files"] == 8 and stats["rows"] == 500
    # one file per shard dir
    for d in glob.glob(f"{out}/shards/shard=*"):
        assert len(glob.glob(f"{d}/part-*")) == 1
    manifest = spark.read.parquet(f"{out}/manifest.parquet").collect()
    assert len(manifest) == 8
    assert sum(r["rows"] for r in manifest) == 500
    assert sorted(r["shard"] for r in manifest) == list(range(8))


def test_export_roundtrip_and_determinism(spark, tmp_path):
    out1, out2 = str(tmp_path / "a"), str(tmp_path / "b")
    export_shards(_docs(spark), out1, "doc_id", n_shards=4, seed=9)
    export_shards(_docs(spark).repartition(13), out2, "doc_id", n_shards=4, seed=9)
    a = read_export(spark, out1).select("doc_id", "shard")
    b = read_export(spark, out2).select("doc_id", "shard").withColumnRenamed("shard", "s2")
    # same (id, seed) → same shard regardless of input partitioning
    assert a.join(b, "doc_id").where(F.col("shard") != F.col("s2")).count() == 0
    assert a.count() == 500
    texts = {r["doc_id"]: r["text"] for r in read_export(spark, out1).collect()}
    assert texts[7] == "text-7"


def test_export_parquet_format(spark, tmp_path):
    out = str(tmp_path / "p")
    stats = export_shards(_docs(spark, 100), out, "doc_id", n_shards=3, fmt="parquet")
    assert stats["rows"] == 100
    back = read_export(spark, out, fmt="parquet")
    assert back.count() == 100 and "text" in back.columns


def test_read_refuses_manifestless_dir(spark, tmp_path):
    out = str(tmp_path / "half")
    _docs(spark, 10).write.json(f"{out}/shards")  # shards but no manifest
    with pytest.raises(ValueError, match="no manifest"):
        read_export(spark, out)


def test_export_validates_args(spark, tmp_path):
    with pytest.raises(ValueError, match="fmt"):
        export_shards(_docs(spark, 5), str(tmp_path / "x"), "doc_id", 2, fmt="csv")
    with pytest.raises(ValueError, match="n_shards"):
        export_shards(_docs(spark, 5), str(tmp_path / "y"), "doc_id", 0)


def test_empty_shards_allowed(spark, tmp_path):
    out = str(tmp_path / "few")
    stats = export_shards(_docs(spark, 2), out, "doc_id", n_shards=16)
    assert stats["files"] <= 16 and stats["rows"] == 2


def test_export_jsonl_gzip_roundtrip(spark, tmp_path):
    """jsonl.gz delivery: per-shard gzip files, transparently re-read,
    manifest row counts unchanged by compression."""
    import glob

    from binance_data_pipeline_spark.operators.export import export_shards, read_export

    out = str(tmp_path / "exp")
    df = spark.createDataFrame(
        [(i, f"doc {i} body") for i in range(200)], "doc_id long, text string"
    )
    stats = export_shards(df, out, "doc_id", n_shards=4, fmt="jsonl", compression="gzip")
    assert stats["rows"] == 200
    gz = glob.glob(f"{out}/shards/shard=*/*.gz")
    assert gz, "expected .gz shard files"
    back = read_export(spark, out, fmt="jsonl")
    assert back.count() == 200
    assert {r["doc_id"] for r in back.select("doc_id").collect()} == set(range(200))


def test_export_webdataset_tar_shards(spark, tmp_path):
    """Multimodal tar delivery: binary members raw, strings UTF-8,
    others JSON; per-sample members share the id basename; manifest is
    the commit marker; byte-identical output under any input
    partitioning (deterministic placement + in-shard order + zeroed tar
    metadata)."""
    import hashlib
    import tarfile

    from binance_data_pipeline_spark.operators.export import export_webdataset

    rows = [
        (
            i,
            hashlib.sha256(str(i).encode()).digest() * 3,
            f"caption {i}",
            {"lang": "en", "i": i},
        )
        for i in range(7)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, payload binary, text string, meta map<string,string>"
    )
    out = str(tmp_path / "wds")
    report = export_webdataset(
        df, out, "doc_id",
        members={"bin": "payload", "txt": "text", "json": "meta"},
        n_shards=2,
    )
    assert report["rows"] == 7 and 1 <= report["files"] <= 2
    assert report["bytes"] > 0

    seen = {}
    for r in spark.read.parquet(f"{out}/manifest.parquet").collect():
        with tarfile.open(r["file"]) as tar:
            for m in tar.getmembers():
                assert m.mtime == 0 and m.uid == 0
                seen[m.name] = tar.extractfile(m).read()
    # every sample contributed all three members, regrouped by basename
    for i in range(7):
        assert seen[f"{i}.bin"] == rows[i][1]
        assert seen[f"{i}.txt"] == f"caption {i}".encode()
        assert b'"lang"' in seen[f"{i}.json"]

    # determinism: different input partitioning → identical tar bytes
    out2 = str(tmp_path / "wds2")
    export_webdataset(
        df.repartition(13), out2, "doc_id",
        members={"bin": "payload", "txt": "text", "json": "meta"},
        n_shards=2,
    )
    h = lambda p: {
        r["shard"]: hashlib.md5(open(r["file"], "rb").read()).hexdigest()
        for r in spark.read.parquet(f"{p}/manifest.parquet").collect()
    }
    assert h(out) == h(out2)


def test_export_webdataset_validation_and_nulls(spark, tmp_path):
    import tarfile

    from binance_data_pipeline_spark.operators.export import export_webdataset

    df = spark.createDataFrame(
        [(1, "has text"), (2, None)], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="not in frame"):
        export_webdataset(df, str(tmp_path / "x"), "doc_id", {"txt": "nope"}, 1)
    with pytest.raises(ValueError, match="at least one"):
        export_webdataset(df, str(tmp_path / "x"), "doc_id", {}, 1)

    out = str(tmp_path / "wds")
    report = export_webdataset(df, out, "doc_id", {"txt": "text"}, 1)
    assert report["rows"] == 2
    row = spark.read.parquet(f"{out}/manifest.parquet").first()
    with tarfile.open(row["file"]) as tar:
        names = tar.getnames()
    assert names == ["1.txt"]  # NULL member skipped, not an empty file


def test_read_webdataset_roundtrip(spark, tmp_path):
    """Tar shards read back through the Spark reader: every member's
    bytes survive, missing members are NULL, manifest-less dirs refused."""
    from binance_data_pipeline_spark.operators.export import (
        export_webdataset,
        read_webdataset,
    )

    rows = [(1, b"\x00\x01img", "alpha"), (2, None, "beta"), (3, b"xyz", None)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary, text string")
    out = str(tmp_path / "wds")
    export_webdataset(df, out, "doc_id", {"bin": "payload", "txt": "text"}, 2)

    back = {r["key"]: r for r in read_webdataset(spark, out, ["bin", "txt"]).collect()}
    assert set(back) == {"1", "2", "3"}
    assert bytes(back["1"]["bin"]) == b"\x00\x01img" and bytes(back["1"]["txt"]) == b"alpha"
    assert back["2"]["bin"] is None and bytes(back["2"]["txt"]) == b"beta"
    assert back["3"]["txt"] is None and bytes(back["3"]["bin"]) == b"xyz"

    with pytest.raises(ValueError, match="no manifest"):
        read_webdataset(spark, str(tmp_path / "nowhere"), ["txt"])
    with pytest.raises(ValueError, match="at least one"):
        read_webdataset(spark, out, [])
