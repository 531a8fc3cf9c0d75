"""Multimodal quarantine contract (VERDICT r10 task 5): a corpus
containing payloads the configured decoder cannot handle — formats with
no dependency-free codec, unsupported variants, corrupt containers,
truncated bytes — must flow those rows to a quarantine column (id +
reason) and decode the rest, with ZERO job failure; an injected
PIL-style decoder drains the quarantine. The dependency-free decoders
handle Adam7 PNG, 16-bit PNG, BMP and ICO natively, so REAL fixtures
of those (built by the package's own encoders) sit on the DECODABLE
side; JPEG (no native codec), an unsupported BMP bit depth and the
header-patched variants (a header that contradicts the stream data)
stay on the quarantine side."""

from __future__ import annotations

import sys

import numpy as np
import pytest

sys.path.insert(0, "/root/repo")

from binance_data_pipeline_spark.operators.bmp import encode_bmp
from binance_data_pipeline_spark.operators.ico import encode_ico
from binance_data_pipeline_spark.operators.multimodal import (
    BMP_MIME,
    ICO_MIME,
    MEDIA_SCHEMA,
    PNG_MIME,
    PPM_MIME,
    decode_ppm,
    default_decoder,
    deterministic_fake_decoder,
    encode_png,
    extract_features,
    synthetic_ppm,
)


def _px(seed: int) -> np.ndarray:
    _, _, px = decode_ppm(synthetic_ppm(16, 16, seed=seed))
    return px


JPEG_MIME = "image/jpeg"  # no dependency-free codec: PIL or quarantine


def _jpeg_like() -> bytes:
    # SOI + APP0 marker then filler: any JPEG payload needs an injected
    # decoder once PIL is absent
    return b"\xff\xd8\xff\xe0" + bytes(range(60))


def _bmp_12bit() -> bytes:
    # BITMAPINFOHEADER biBitCount -> 12, a depth BMP does not define
    data = bytearray(encode_bmp(_px(2)))
    data[28:30] = (12).to_bytes(2, "little")
    return bytes(data)


def _corrupt_adam7_png() -> bytes:
    # IHDR claims Adam7 but the scanline data is sequential — corrupt
    data = bytearray(encode_png(_px(3)))
    data[28] = 1  # IHDR interlace byte -> Adam7
    return bytes(data)


def _corrupt_png16() -> bytes:
    # IHDR claims 16-bit but the data stream is 8-bit — corrupt
    data = bytearray(encode_png(_px(4)))
    data[24] = 16  # IHDR bit depth -> 16
    return bytes(data)


@pytest.fixture(scope="module")
def mixed_corpus(spark):
    rows = [
        # decodable under the dependency-free decoders
        (1, "image", PPM_MIME, synthetic_ppm(16, 12, seed=9), 16, 12, None),
        (2, "image", PNG_MIME, encode_png(_px(5)), 16, 16, None),
        (3, "image", BMP_MIME, encode_bmp(_px(6)), 16, 16, None),
        # real exotic formats: natively decodable
        (4, "image", PNG_MIME, encode_png(_px(8), interlace=True), 16, 16, None),
        (5, "image", PNG_MIME, encode_png(_px(9), bit_depth=16), 16, 16, None),
        (6, "image", ICO_MIME, encode_ico([_px(10)]), 16, 16, None),
        # quarantine candidates
        (10, "image", JPEG_MIME, _jpeg_like(), 16, 16, None),
        (11, "image", BMP_MIME, _bmp_12bit(), 16, 16, None),
        (12, "image", PNG_MIME, _corrupt_adam7_png(), 16, 16, None),
        (13, "image", PNG_MIME, _corrupt_png16(), 16, 16, None),
        (14, "image", BMP_MIME, encode_bmp(_px(7))[:40], 16, 16, None),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_quarantine_splits_corpus_without_failing(mixed_corpus):
    """Without PIL (this container), the exotic payloads quarantine with
    attributable reasons and the clean ones decode — one pass, no error."""
    out = extract_features(
        mixed_corpus, default_decoder(), on_error="quarantine"
    ).collect()
    assert len(out) == 11  # every input row accounted for
    by_id = {r["media_id"]: r for r in out}
    decoded = {i for i, r in by_id.items() if r["quarantine_reason"] is None}
    quarantined = {i for i, r in by_id.items() if r["quarantine_reason"] is not None}
    assert decoded == {1, 2, 3, 4, 5, 6}
    assert quarantined == {10, 11, 12, 13, 14}
    # decoded rows carry real features; quarantined rows NULL features
    assert all(by_id[i]["feature"] is not None for i in decoded)
    assert all(by_id[i]["feature"] is None for i in quarantined)
    # reasons name the boundary, so a re-drive can route by cause:
    # no codec / unsupported variant are NotImplemented, not corrupt
    assert by_id[10]["quarantine_reason"].startswith("NotImplementedError")
    assert "inject a real Decoder" in by_id[10]["quarantine_reason"]
    assert by_id[11]["quarantine_reason"].startswith("NotImplementedError")
    assert "12-bit BMP" in by_id[11]["quarantine_reason"]
    # header-contradicts-data corpses are VALUE errors, not unsupported
    assert by_id[12]["quarantine_reason"].startswith("ValueError")
    assert by_id[13]["quarantine_reason"].startswith("ValueError")
    assert by_id[14]["quarantine_reason"].split(":")[0] in (
        "ValueError", "error", "IndexError", "struct.error",
    )


def test_injected_decoder_drains_quarantine(mixed_corpus):
    """With an injected PIL-style decoder (here: the deterministic fake,
    which accepts any payload — the same shape a pil_decoder() injection
    has in production), the formerly quarantined rows decode; the
    pipeline code is identical."""
    out = extract_features(
        mixed_corpus, deterministic_fake_decoder(dim=8), on_error="quarantine"
    ).collect()
    assert len(out) == 11
    assert all(r["quarantine_reason"] is None for r in out)
    assert all(r["feature"] is not None and len(r["feature"]) == 8 for r in out)


def test_raise_mode_still_fails_loud(mixed_corpus):
    """The default contract is unchanged: pipelines that expect full
    decodability get the error, not silent NULLs. WHICH exotic row fails
    first depends on partition scheduling (no codec / 12-bit ->
    NotImplemented, corrupt/truncated -> ValueError), so assert only that the job fails
    from inside the decode path."""
    with pytest.raises(Exception) as ei:
        extract_features(mixed_corpus, default_decoder()).collect()
    msg = str(ei.value)
    assert "multimodal" in msg or "NotImplementedError" in msg or "jpeg" in msg


def test_quarantine_then_targeted_redrive(mixed_corpus, spark):
    """The two-phase production flow (VERDICT r11 task 4): decode with
    quarantine, then re-drive ONLY the quarantined ids through the heavier
    (injected PIL-style) decoder and union — every id ends up decoded
    exactly once, the quarantine fully drains (0 remaining quarantine
    rows), and each re-driven row's feature is bit-identical to what an
    all-injected-decoder run produces for that id (the re-drive loses
    nothing to the two-phase split)."""
    from pyspark.sql import functions as F

    first = extract_features(
        mixed_corpus, default_decoder(), on_error="quarantine"
    ).cache()
    bad_ids = [r["media_id"] for r in
               first.where(F.col("quarantine_reason").isNotNull())
                    .select("media_id").collect()]
    redriven = extract_features(
        mixed_corpus.where(F.col("media_id").isin(bad_ids)),
        deterministic_fake_decoder(dim=8),
        on_error="quarantine",
    )
    final = (
        first.where(F.col("quarantine_reason").isNull())
        .unionByName(redriven)
    )
    rows = final.collect()
    assert sorted(r["media_id"] for r in rows) == [
        1, 2, 3, 4, 5, 6, 10, 11, 12, 13, 14]
    assert all(r["feature"] is not None for r in rows)
    # full recovery: the re-drive left nothing in quarantine
    assert all(r["quarantine_reason"] is None for r in rows)
    # re-driven features match an all-injected-decoder run exactly — the
    # two-phase flow is equivalent to having had the heavy decoder from
    # the start (for the rows the light decoder could not handle)
    all_injected = {
        r["media_id"]: list(r["feature"])
        for r in extract_features(
            mixed_corpus, deterministic_fake_decoder(dim=8)
        ).collect()
    }
    by_id = {r["media_id"]: r for r in rows}
    for i in bad_ids:
        assert list(by_id[i]["feature"]) == all_injected[i], i
        # payload provenance survives the re-drive too
        assert by_id[i]["payload_hash"] is not None
    first.unpersist()
