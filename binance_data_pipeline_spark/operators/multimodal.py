"""Multimodal column plumbing: image/audio/video as opaque BINARY columns
with typed metadata, processed in Arrow batches via mapInPandas.

Decode support is tiered:
  - REAL, no dependencies: PPM (P6), PNG (the complete 1-16-bit
    sequential/Adam7 matrix), BMP and ICO (operators/bmp, operators/ico)
    images and PCM WAV audio decode with numpy + stdlib —
    `baseline_decoder` / `baseline_resizer` run the feature and resize
    paths end-to-end, un-stubbed, on those formats (synthetic fixture
    builders included).
  - AUTO-DETECTED: `default_decoder()` / `default_resizer()` probe for PIL
    once at construction and route the other compressed images (JPEG,
    GIF, TIFF, WebP, ...) through it when importable — decoding to RGB
    and reusing the SAME `_rgb_features`, so identical pixels give
    identical vectors in either container format.
  - STUBBED: without PIL (this container), the remaining formats fall
    back to `decode_stub`'s NotImplementedError; audio/video beyond PCM
    WAV needs libav — inject a real Decoder in production. The
    Arrow-batch plumbing is identical either way, so swapping decoders
    changes zero Spark code.

Scale notes: binary payloads dominate row size → keep
`spark.sql.files.maxPartitionBytes` small enough that an Arrow batch of
rows fits executor memory; metadata-only transforms must select AWAY the
binary column first (column pruning drops the bytes at the scan).

Deployment note: decoder closures reference module-level functions, which
cloudpickle serializes BY REFERENCE — executors must be able to import
this package (ship it via `spark-submit --py-files` / pip install /
PYTHONPATH, the standard posture for any PySpark library). The relational
catalog has no such dependency: its few Python kernels close only over
locals and numpy, so they deserialize anywhere.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Canonical multimodal table schema: payload + typed metadata.
MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),        # image | audio | video
        StructField("mime", StringType()),
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),      # images/video
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),   # audio/video
    ]
)

FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes long, payload_hash string, feature array<float>"
)

#: quarantine variant: feature is NULL and quarantine_reason carries the
#: decoder's error class+message for rows the decoder cannot handle
FEATURE_Q_SCHEMA = FEATURE_SCHEMA + ", quarantine_reason string"

#: decoder(payload bytes, mime) -> feature list[float]
Decoder = Callable[[bytes, str], list[float]]


def decode_stub(payload: bytes, mime: str) -> list[float]:
    """Placeholder decoder: the real one needs PIL/libav, absent here."""
    raise NotImplementedError(
        "media decoding requires an image/audio library not present in this "
        "environment; inject a real Decoder"
    )


def deterministic_fake_decoder(dim: int = 8) -> Decoder:
    """Offline stand-in: derives a deterministic feature vector from the
    payload bytes (keeps the full pipeline testable without media libs)."""

    def decode(payload: bytes, mime: str) -> list[float]:
        h = 1469598103934665603
        for b in payload[:4096]:
            h = ((h ^ b) * 1099511628211) % (1 << 64)
        return [((h >> (8 * i)) & 0xFF) / 255.0 for i in range(dim)]

    return decode


# ---------------------------------------------------------------------
# Real no-dependency codecs: PPM (P6) + PNG images, PCM WAV audio
# ---------------------------------------------------------------------

PPM_MIME = "image/x-portable-pixmap"
WAV_MIME = "audio/wav"
PNG_MIME = "image/png"
BMP_MIME = "image/bmp"
ICO_MIME = "image/x-icon"
ICO_MIME_ALT = "image/vnd.microsoft.icon"

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _unfilter(raw: bytes, ph: int, stride: int, bpp: int):
    """Undo PNG per-scanline filtering for one (sub-)image: ``raw`` is
    ph scanlines of (1 filter byte + stride data bytes); ``bpp`` is the
    filter's left-neighbor distance in BYTES (channels x bytes/sample).
    Returns (ph, stride) uint8. None/Up rows are pure numpy; Sub/
    Average/Paeth have a left data dependency so those rows run a
    per-byte loop — fine for thumbnails and fixtures, and the decoder
    runs inside the Arrow-batched mapInPandas plumbing either way."""
    import numpy as np

    if len(raw) != ph * (stride + 1):
        raise ValueError("PNG scanline data has unexpected length")
    arr = np.frombuffer(raw, np.uint8).reshape(ph, stride + 1)
    ftypes = arr[:, 0]
    out = np.zeros((ph, stride), np.int32)
    for y in range(ph):
        f = int(ftypes[y])
        rec = arr[y, 1:].astype(np.int32)
        prior = out[y - 1] if y else np.zeros(stride, np.int32)
        if f == 0:
            pass
        elif f == 2:  # Up — vectorized
            rec = (rec + prior) & 0xFF
        elif f == 1:  # Sub
            for x in range(bpp, stride):
                rec[x] = (rec[x] + rec[x - bpp]) & 0xFF
        elif f == 3:  # Average
            for x in range(stride):
                left = rec[x - bpp] if x >= bpp else 0
                rec[x] = (rec[x] + ((left + prior[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for x in range(stride):
                a = int(rec[x - bpp]) if x >= bpp else 0
                b = int(prior[x])
                cc = int(prior[x - bpp]) if x >= bpp else 0
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                rec[x] = (rec[x] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {f}")
        out[y] = rec
    return out.astype(np.uint8)


#: Adam7 pass geometry: (x_start, y_start, x_step, y_step) per pass.
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def decode_png(payload: bytes):
    """Parse a PNG with stdlib zlib + numpy: returns (width, height,
    HxWx3 uint8 RGB array). Real decode, no PIL: chunk walk → IDAT
    inflate → per-scanline unfilter (all five PNG filter types) → color
    conversion for gray / RGB / palette / gray+alpha / RGBA. Supports
    bit depths 8 AND 16 (16-bit samples take their high byte — features
    are RGB-8-defined) and both interlace methods: sequential and Adam7
    (r12 — each of the 7 passes unfilters as its own sub-image, then
    scatters into place by the pass geometry), plus sub-byte depths
    1/2/4 for gray and palette (MSB-first unpack after unfilter; gray
    scales to full 8-bit range). That is the COMPLETE PNG depth/
    interlace matrix. Alpha is dropped (features are RGB-defined)."""
    import struct
    import zlib

    import numpy as np

    if not payload.startswith(_PNG_SIG):
        raise ValueError("not a PNG payload")
    ihdr = None
    plte = None
    idat: list[bytes] = []
    pos = 8
    while pos + 8 <= len(payload):
        (ln,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        pos += 12 + ln  # length + type + data + CRC
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, color_type, _comp, _filt, interlace = ihdr
    if depth not in (1, 2, 4, 8, 16):
        raise ValueError(f"invalid PNG bit depth {depth}")
    if interlace not in (0, 1):
        raise ValueError(f"unknown PNG interlace method {interlace}")
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    if depth < 8 and color_type not in (0, 3):
        raise ValueError(
            f"PNG depth {depth} is only valid for gray/palette "
            f"(color type {color_type})"
        )
    if not (0 < w <= 1 << 24 and 0 < h <= 1 << 24 and w * h <= 1 << 28):
        # corrupt/hostile header: refuse before any allocation (a web
        # corpus decoder must quarantine bombs, not OOM the executor)
        raise ValueError(f"implausible PNG dimensions {w}x{h}")
    raw = zlib.decompress(b"".join(idat))

    if depth >= 8:
        bps = depth // 8  # bytes per sample
        bpp = channels * bps

        def sub_image(data: bytes, ph: int, pw: int):
            return _unfilter(data, ph, pw * bpp, bpp).reshape(ph, pw, bpp)

        def row_bytes(pw: int) -> int:
            return pw * bpp
    else:
        # sub-byte depths (1/2/4-bit gray or palette): filter distance
        # is ONE byte per spec; samples unpack MSB-first after unfilter
        bpp = 1

        def sub_image(data: bytes, ph: int, pw: int):
            stride = (pw * depth + 7) // 8
            rows = _unfilter(data, ph, stride, 1)
            bits = np.unpackbits(rows, axis=1).reshape(ph, stride, 8)
            # group each byte's bits into 8//depth samples
            groups = bits.reshape(ph, stride, 8 // depth, depth)
            samples = (groups * (1 << np.arange(depth - 1, -1, -1))).sum(axis=3)
            return samples.reshape(ph, -1)[:, :pw].astype(np.uint8)[:, :, None]

        def row_bytes(pw: int) -> int:
            return (pw * depth + 7) // 8

    if interlace == 0:
        flat = sub_image(raw, h, w)
    else:  # Adam7: 7 independently-filtered sub-images, scattered back
        expect = sum(
            ph_ * (row_bytes(pw_) + 1)
            for x0, y0, xs, ys in _ADAM7
            for pw_ in [(w - x0 + xs - 1) // xs]
            for ph_ in [(h - y0 + ys - 1) // ys]
            if pw_ > 0 and ph_ > 0
        )
        if expect != len(raw):
            # checked BEFORE the output buffer exists: a corrupt header
            # never costs an allocation proportional to its claims
            raise ValueError("PNG Adam7 data has unexpected length")
        flat = np.zeros((h, w, bpp), np.uint8)
        off = 0
        for x0, y0, xs, ys in _ADAM7:
            pw = (w - x0 + xs - 1) // xs
            ph = (h - y0 + ys - 1) // ys
            if pw <= 0 or ph <= 0:
                continue  # pass empty at this image size
            n = ph * (row_bytes(pw) + 1)
            flat[y0::ys, x0::xs] = sub_image(raw[off : off + n], ph, pw)
            off += n
        if off != len(raw):
            raise ValueError("PNG Adam7 data has unexpected length")
    flat = flat.reshape(h, -1)

    if depth == 16:
        # big-endian u16 samples -> high byte (8-bit features)
        flat = flat.reshape(h, w * channels, 2)[:, :, 0]
    elif depth < 8 and color_type == 0:
        # scale d-bit gray to full 8-bit range (0..2^d-1 -> 0..255)
        flat = (flat.astype(np.int32) * 255 // ((1 << depth) - 1)).astype(np.uint8)
    px = flat.reshape(h, w, channels)
    if color_type == 3:
        if plte is None:
            raise ValueError("palette PNG without PLTE chunk")
        px = plte[px[:, :, 0]]
    elif color_type == 0:
        px = np.repeat(px, 3, axis=2)
    elif color_type == 4:
        px = np.repeat(px[:, :, :1], 3, axis=2)
    elif color_type == 6:
        px = px[:, :, :3]
    return w, h, px


def encode_png(pixels, interlace: bool = False, bit_depth: int = 8) -> bytes:
    """Encode an HxWx3 uint8 array as an RGB PNG (filter type 0 per
    scanline, one zlib-compressed IDAT). Stdlib-only; round-trips with
    decode_png bit-exactly. ``interlace=True`` writes Adam7 pass order
    (r12); ``bit_depth=16`` widens samples as v*257 (high byte == v, so
    the 8-bit decode round-trips exactly). Both exist so the decoder's
    exotic-format paths are pinned against REAL container bytes, not
    header-patched fakes."""
    import struct
    import zlib

    import numpy as np

    if bit_depth not in (8, 16):
        raise ValueError(f"bit_depth must be 8 or 16, got {bit_depth}")
    px = np.ascontiguousarray(np.asarray(pixels, dtype=np.uint8))
    h, w, _ = px.shape

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    def row_bytes(sub) -> bytes:
        if bit_depth == 8:
            return sub.tobytes()
        return (sub.astype(np.uint16) * 257).astype(">u2").tobytes()

    if not interlace:
        raw = b"".join(b"\x00" + row_bytes(px[y]) for y in range(h))
    else:
        parts = []
        for x0, y0, xs, ys in _ADAM7:
            sub = px[y0::ys, x0::xs]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            for y in range(sub.shape[0]):
                parts.append(b"\x00" + row_bytes(sub[y]))
        raw = b"".join(parts)
    ihdr = struct.pack(">IIBBBBB", w, h, bit_depth, 2, 0, 0, 1 if interlace else 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _png_chunks(ihdr_body: bytes, extra: list[tuple[bytes, bytes]], raw: bytes) -> bytes:
    import struct
    import zlib

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    out = _PNG_SIG + chunk(b"IHDR", ihdr_body)
    for ctype, data in extra:
        out += chunk(ctype, data)
    return out + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")


def _pack_rows(samples, depth: int) -> bytes:
    """Pack (ph, pw) d-bit samples MSB-first into filter-0 scanlines."""
    import numpy as np

    ph, pw = samples.shape
    per_byte = 8 // depth
    padded_w = -(-pw // per_byte) * per_byte
    pad = np.zeros((ph, padded_w), np.uint8)
    pad[:, :pw] = samples
    bits = ((pad[:, :, None] >> np.arange(depth - 1, -1, -1)) & 1).astype(np.uint8)
    rows = np.packbits(bits.reshape(ph, -1), axis=1)
    return b"".join(b"\x00" + rows[y].tobytes() for y in range(ph))


def encode_png_gray(gray, bit_depth: int, interlace: bool = False) -> bytes:
    """Encode an HxW array of d-bit gray SAMPLES (values 0..2^d-1) as a
    grayscale PNG at depth 1/2/4 — fixture builder for the sub-byte
    decode paths (decode scales samples to the full 8-bit range)."""
    import struct

    import numpy as np

    if bit_depth not in (1, 2, 4):
        raise ValueError("encode_png_gray is for depths 1/2/4")
    g = np.asarray(gray, np.uint8)
    assert g.max(initial=0) < (1 << bit_depth)
    h, w = g.shape
    if not interlace:
        raw = _pack_rows(g, bit_depth)
    else:
        parts = []
        for x0, y0, xs, ys in _ADAM7:
            sub = g[y0::ys, x0::xs]
            if sub.size:
                parts.append(_pack_rows(sub, bit_depth))
        raw = b"".join(parts)
    ihdr = struct.pack(">IIBBBBB", w, h, bit_depth, 0, 0, 0, 1 if interlace else 0)
    return _png_chunks(ihdr, [], raw)


def encode_png_palette(indices, palette, bit_depth: int, interlace: bool = False) -> bytes:
    """Encode an HxW index array + (n,3) palette as a paletted PNG at
    depth 1/2/4/8 — fixture builder for the palette sub-byte paths."""
    import struct

    import numpy as np

    idx = np.asarray(indices, np.uint8)
    pal = np.asarray(palette, np.uint8)
    assert idx.max(initial=0) < len(pal) <= (1 << bit_depth)
    h, w = idx.shape
    if bit_depth == 8:
        if not interlace:
            raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(h))
        else:
            parts = []
            for x0, y0, xs, ys in _ADAM7:
                sub = idx[y0::ys, x0::xs]
                if sub.size:
                    parts.append(b"".join(b"\x00" + sub[y].tobytes()
                                          for y in range(sub.shape[0])))
            raw = b"".join(parts)
    elif not interlace:
        raw = _pack_rows(idx, bit_depth)
    else:
        parts = []
        for x0, y0, xs, ys in _ADAM7:
            sub = idx[y0::ys, x0::xs]
            if sub.size:
                parts.append(_pack_rows(sub, bit_depth))
        raw = b"".join(parts)
    ihdr = struct.pack(">IIBBBBB", w, h, bit_depth, 3, 0, 0, 1 if interlace else 0)
    return _png_chunks(ihdr, [(b"PLTE", pal.tobytes())], raw)


def decode_ppm(payload: bytes):
    """Parse the binary Netpbm family: P6 pixmap, P5 graymap (maxval up
    to 65535 — 16-bit big-endian samples scale to 8), P4 bitmap
    (1 = black per PBM). Returns (width, height, HxWx3 uint8 array).
    Pure numpy — whitespace-delimited header plus raw samples."""
    import numpy as np

    magic = payload[:2]
    if magic not in (b"P4", b"P5", b"P6"):
        raise ValueError("not a binary Netpbm (P4/P5/P6) payload")
    n_tokens = 2 if magic == b"P4" else 3  # PBM has no maxval
    # header tokens after the magic (comments start with #)
    tokens: list[bytes] = []
    i = 2
    while len(tokens) < n_tokens and i < len(payload):
        c = payload[i : i + 1]
        if c == b"#":
            while i < len(payload) and payload[i : i + 1] != b"\n":
                i += 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < len(payload) and not payload[j : j + 1].isspace():
                j += 1
            tokens.append(payload[i:j])
            i = j
    i += 1  # single whitespace after the last header token
    w, h = int(tokens[0]), int(tokens[1])
    if not (0 < w and 0 < h and w * h <= 1 << 28):
        raise ValueError(f"implausible Netpbm dimensions {w}x{h}")
    if magic == b"P4":
        rowb = (w + 7) // 8
        raw = np.frombuffer(payload, np.uint8, count=rowb * h, offset=i)
        bits = np.unpackbits(raw.reshape(h, rowb), axis=1)[:, :w]
        gray = ((1 - bits) * 255).astype(np.uint8)  # 1 = black
        return w, h, np.repeat(gray[:, :, None], 3, axis=2)
    maxval = int(tokens[2])
    if not (0 < maxval < 65536):
        raise ValueError(f"invalid Netpbm maxval {maxval}")
    spp = 3 if magic == b"P6" else 1
    if maxval > 255:
        raw = np.frombuffer(
            payload, np.dtype(">u2"), count=w * h * spp, offset=i
        ).astype(np.uint32)
    else:
        raw = np.frombuffer(
            payload, np.uint8, count=w * h * spp, offset=i
        ).astype(np.uint32)
    if maxval != 255:
        raw = raw * 255 // maxval
    px = raw.astype(np.uint8).reshape(h, w, spp)
    if spp == 1:
        px = np.repeat(px, 3, axis=2)
    return w, h, px


def encode_ppm(pixels) -> bytes:
    """HxWx3 uint8 array → binary PPM (P6) bytes."""
    h, w, _ = pixels.shape
    return b"P6\n%d %d\n255\n" % (w, h) + pixels.tobytes()


def decode_wav(payload: bytes):
    """Parse a WAV: linear PCM via the stdlib `wave` module, plus a
    manual RIFF path for G.711 companded telephony audio (format tag 7
    = mu-law, 6 = A-law — stdlib `wave` rejects those). Returns
    (framerate, channels, float samples in [-1, 1])."""
    import io
    import wave

    import numpy as np

    try:
        with wave.open(io.BytesIO(payload), "rb") as wf:
            rate, channels, width = (
                wf.getframerate(), wf.getnchannels(), wf.getsampwidth()
            )
            raw = wf.readframes(wf.getnframes())
    except wave.Error:
        return _decode_wav_g711(payload)
    if width == 2:
        samples = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif width == 1:
        samples = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    else:
        raise ValueError(f"unsupported sample width {width}")
    return rate, channels, samples


def _g711_ulaw_table():
    """256-entry mu-law byte -> linear int16 (ITU G.711, BIAS 0x84)."""
    out = []
    for b in range(256):
        u = ~b & 0xFF
        sign = u & 0x80
        exp = (u >> 4) & 7
        mant = u & 0x0F
        mag = (((mant << 3) + 0x84) << exp) - 0x84
        out.append(-mag if sign else mag)
    return out


def _g711_alaw_table():
    """256-entry A-law byte -> linear int16 scale (max 32256), G.711."""
    out = []
    for b in range(256):
        a = b ^ 0x55
        sign = a & 0x80
        exp = (a >> 4) & 7
        mant = a & 0x0F
        mag = (mant << 4) + 8 if exp == 0 else ((mant << 4) + 0x108) << (exp - 1)
        out.append(-mag if sign else mag)
    return out


def _decode_wav_g711(payload: bytes):
    """RIFF/WAVE walk for the companded formats the stdlib refuses."""
    import struct as _struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV payload")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        (size,) = _struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if tag == b"fmt " and len(body) >= 16:
            fmt = _struct.unpack("<HHIIHH", body[:16])
        elif tag == b"data":
            data = body
        pos += 8 + size + (size & 1)
    if fmt is None or data is None:
        raise ValueError("corrupt WAV: missing fmt/data chunk")
    tag_id, channels, rate, _bps, _align, bits = fmt
    if tag_id not in (6, 7):
        raise ValueError(f"unsupported WAV format tag {tag_id}")
    if bits not in (0, 8):
        raise ValueError(f"corrupt G.711 WAV: {bits} bits per sample")
    table = np.array(
        _g711_alaw_table() if tag_id == 6 else _g711_ulaw_table(), np.float64
    )
    # both tables are at 16-bit scale (ulaw max 32124, alaw max 32256)
    samples = table[np.frombuffer(data, np.uint8)] / 32768.0
    return rate, channels, samples


def _rgb_features(px) -> list[float]:
    """8-dim image features from an HxWx3 uint8 array — shared by the PPM
    baseline and the PIL-backed decoder, so the same pixels produce the
    same vector regardless of container format:
    [w, h, mean R, mean G, mean B, luminance std, edge energy, 1.0]."""
    import numpy as np

    h, w, _ = px.shape
    f = px.astype(np.float64)
    lum = f.mean(axis=2)
    # horizontal gradient magnitude as a cheap edge-energy proxy
    edge = float(np.abs(np.diff(lum, axis=1)).mean()) if w > 1 else 0.0
    return [
        float(w),
        float(h),
        float(f[:, :, 0].mean()),
        float(f[:, :, 1].mean()),
        float(f[:, :, 2].mean()),
        float(lum.std()),
        edge,
        1.0,
    ]


def baseline_decoder(payload: bytes, mime: str) -> list[float]:
    """Real feature extraction for the no-dependency formats (8-dim,
    matching deterministic_fake_decoder's shape):

    PPM  → _rgb_features (see above)
    PNG  → decode_png (stdlib zlib + unfilter) → the SAME _rgb_features
    BMP  → decode_bmp (operators/bmp: palette/direct/BITFIELDS/RLE)
           → the SAME _rgb_features
    ICO  → decode_ico (operators/ico: largest PNG or DIB member)
           → the SAME _rgb_features
    WAV  → [duration s, RMS, zero-crossing rate, peak, rate/48k, ch, 0, 2.0]

    Other mimes raise NotImplementedError (they need PIL/libav)."""
    import numpy as np

    if mime == PPM_MIME:
        _, _, px = decode_ppm(payload)
        return _rgb_features(px)
    if mime == PNG_MIME:
        _, _, px = decode_png(payload)
        return _rgb_features(px)
    if mime == BMP_MIME:
        from .bmp import decode_bmp

        _, _, px = decode_bmp(payload)
        return _rgb_features(px)
    if mime in (ICO_MIME, ICO_MIME_ALT):
        from .ico import decode_ico

        _, _, px = decode_ico(payload)  # largest member
        return _rgb_features(px)
    if mime == WAV_MIME:
        rate, channels, s = decode_wav(payload)
        n = len(s)
        zcr = float((np.signbit(s[1:]) != np.signbit(s[:-1])).mean()) if n > 1 else 0.0
        return [
            n / (rate * channels) if rate else 0.0,
            float(np.sqrt((s**2).mean())) if n else 0.0,
            zcr,
            float(np.abs(s).max()) if n else 0.0,
            rate / 48000.0,
            float(channels),
            0.0,
            2.0,
        ]
    raise NotImplementedError(
        f"no dependency-free decoder for {mime}; inject a PIL/libav-backed Decoder"
    )


def baseline_resizer(payload: bytes, mime: str, w: int, h: int) -> bytes:
    """Real nearest-neighbor resize for PPM, PNG and BMP, re-encoded in
    the source container; other formats need an imaging library. (A PNG
    with alpha comes back as RGB — features and resize are
    RGB-defined.)"""
    import numpy as np

    if mime == PPM_MIME:
        src_w, src_h, px = decode_ppm(payload)
    elif mime == PNG_MIME:
        src_w, src_h, px = decode_png(payload)
    elif mime == BMP_MIME:
        from .bmp import decode_bmp

        src_w, src_h, px = decode_bmp(payload)
    else:
        raise NotImplementedError(f"no dependency-free resizer for {mime}")
    ys = (np.arange(h) * src_h // h).clip(0, src_h - 1)
    xs = (np.arange(w) * src_w // w).clip(0, src_w - 1)
    resized = px[ys][:, xs]
    if mime == PPM_MIME:
        return encode_ppm(resized)
    if mime == BMP_MIME:
        from .bmp import encode_bmp

        return encode_bmp(resized)
    return encode_png(resized)


def pil_decoder() -> Decoder:
    """PIL-backed decoder for compressed images (PNG/JPEG/WebP/...): decode
    to RGB, then the SAME _rgb_features as the PPM baseline — identical
    pixels give identical vectors whatever the container format. WAV still
    routes through the stdlib codec. Raises ImportError when PIL is absent
    (callers use default_decoder for graceful fallback)."""
    import io

    import numpy as np
    from PIL import Image

    def decode(payload: bytes, mime: str) -> list[float]:
        if mime == WAV_MIME:
            return baseline_decoder(payload, mime)
        if mime == PPM_MIME:
            return baseline_decoder(payload, mime)
        img = Image.open(io.BytesIO(payload)).convert("RGB")
        return _rgb_features(np.asarray(img, dtype=np.uint8))

    return decode


def pil_resizer() -> Resizer:
    """PIL-backed resize for compressed images, re-encoded in the source
    format; PPM keeps the dependency-free path. Raises ImportError when
    PIL is absent."""
    import io

    from PIL import Image

    def resize(payload: bytes, mime: str, w: int, h: int) -> bytes:
        if mime == PPM_MIME:
            return baseline_resizer(payload, mime, w, h)
        img = Image.open(io.BytesIO(payload))
        fmt = img.format  # preserve source container (PNG/JPEG/...)
        out = io.BytesIO()
        img.resize((w, h)).save(out, format=fmt)
        return out.getvalue()

    return resize


def default_decoder() -> Decoder:
    """Auto-detected decoder: dependency-free PPM/WAV always; compressed
    images through PIL WHEN importable, else the documented
    NotImplementedError stub. Probe once at construction, not per row."""
    try:
        compressed = pil_decoder()
    except ImportError:
        compressed = None

    def decode(payload: bytes, mime: str) -> list[float]:
        if mime in (PPM_MIME, WAV_MIME):
            return baseline_decoder(payload, mime)
        if mime == PNG_MIME:
            # stdlib PNG covers the COMPLETE depth/interlace matrix
            # (1/2/4/8/16-bit, sequential + Adam7) — no PIL fallback
            # needed; corrupt payloads raise ValueError (quarantine)
            return baseline_decoder(payload, mime)
        if mime in (BMP_MIME, ICO_MIME, ICO_MIME_ALT):
            # BMP: palette/direct/BITFIELDS/RLE; ICO: PNG + classic-DIB
            # members — no PIL fallback needed; corrupt payloads raise
            # ValueError (quarantine)
            return baseline_decoder(payload, mime)
        if compressed is not None and mime.startswith("image/"):
            return compressed(payload, mime)
        return decode_stub(payload, mime)

    return decode


def default_resizer() -> Resizer:
    """Auto-detected resizer: PPM always; compressed images through PIL
    when importable, else the stub."""
    try:
        compressed = pil_resizer()
    except ImportError:
        compressed = None

    def resize(payload: bytes, mime: str, w: int, h: int) -> bytes:
        if mime in (PPM_MIME, PNG_MIME, BMP_MIME):
            # fully-native formats — no fallback needed
            return baseline_resizer(payload, mime, w, h)
        if compressed is not None and mime.startswith("image/"):
            return compressed(payload, mime, w, h)
        return resize_stub(payload, mime, w, h)

    return resize


def synthetic_ppm(width: int = 32, height: int = 24, seed: int = 0) -> bytes:
    """Deterministic synthetic PPM fixture (smooth gradient + seed-keyed
    phase) — valid P6 bytes, no imaging library involved."""
    import numpy as np

    y, x = np.mgrid[0:height, 0:width]
    r = ((x * 255) // max(width - 1, 1) + seed * 17) % 256
    g = ((y * 255) // max(height - 1, 1) + seed * 29) % 256
    b = ((x + y + seed) * 7) % 256
    return encode_ppm(np.stack([r, g, b], axis=2).astype(np.uint8))


def synthetic_wav(
    duration_ms: int = 250, freq_hz: float = 440.0, rate: int = 8000, seed: int = 0
) -> bytes:
    """Deterministic 16-bit mono PCM WAV fixture (pure sine, seed-keyed
    phase) via the stdlib `wave` writer."""
    import io
    import math
    import wave

    n = rate * duration_ms // 1000
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        frames = bytearray()
        for i in range(n):
            v = int(32000 * math.sin(2 * math.pi * freq_hz * i / rate + seed))
            frames += v.to_bytes(2, "little", signed=True)
        wf.writeframes(bytes(frames))
    return buf.getvalue()


def extract_features(
    media: DataFrame, decoder: Decoder = decode_stub, batch_hint: int = 64,
    on_error: str = "raise",
) -> DataFrame:
    """payload → feature vector via Arrow-batched mapInPandas.

    The UDF boundary transfers (media_id, kind, mime, payload) only —
    project before calling if the table carries more columns.

    ``on_error="quarantine"`` (VERDICT r10 task 5): a web-scraped corpus
    always contains payloads the configured decoder cannot handle
    (JPEG or WebP under the dependency-free decoders, truncated or
    mislabeled bytes under ANY decoder). One such row must
    not fail a 100 TB job: decode errors flow to the output as
    feature=NULL + ``quarantine_reason`` ("ErrorClass: message"), so the
    caller splits decoded from quarantined with one filter and can
    re-drive the quarantine through a heavier decoder later. The default
    stays "raise" — loud for pipelines that expect full decodability.

    Contract tests: the corrupt-payload rows of tests/test_media_quality.py,
    test_bmp.py and test_ico.py run through ``on_error="quarantine"``.
    """
    if on_error not in ("raise", "quarantine"):
        raise ValueError(f"on_error must be raise|quarantine, got {on_error!r}")
    quarantine = on_error == "quarantine"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            feats, hashes, sizes, reasons = [], [], [], []
            for payload, mime in zip(pdf["payload"], pdf["mime"]):
                raw = bytes(payload) if payload is not None else b""
                sizes.append(len(raw))
                hashes.append(hashlib.md5(raw).hexdigest())
                if quarantine:
                    try:
                        feats.append(decoder(raw, mime))
                        reasons.append(None)
                    except Exception as e:  # any decode failure, incl. stub
                        feats.append(None)
                        reasons.append(f"{type(e).__name__}: {e}")
                else:
                    feats.append(decoder(raw, mime))
            cols = {
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": sizes,
                "payload_hash": hashes,
                "feature": feats,
            }
            if quarantine:
                cols["quarantine_reason"] = reasons
            yield pd.DataFrame(cols)

    return media.select("media_id", "kind", "mime", "payload").mapInPandas(
        run, FEATURE_Q_SCHEMA if quarantine else FEATURE_SCHEMA
    )


#: resizer(payload, mime, w, h) -> bytes of the resized image
Resizer = Callable[[bytes, str, int, int], bytes]

RESIZED_SCHEMA = "media_id long, mime string, width int, height int, payload binary"
FRAMES_SCHEMA = "media_id long, frame_idx int, frame_ts_ms long, frame binary"


def resize_stub(payload: bytes, mime: str, w: int, h: int) -> bytes:
    raise NotImplementedError(
        "image resize requires an imaging library not present in this "
        "environment; inject a real Resizer"
    )


def fake_resizer(payload: bytes, mime: str, w: int, h: int) -> bytes:
    """Offline stand-in: deterministic truncation/padding to w*h bytes —
    keeps the shape contract testable without PIL."""
    target = max(w * h, 1)
    return (payload * (target // max(len(payload), 1) + 1))[:target]


def resize_images(
    media: DataFrame, width: int, height: int, resizer: Resizer = resize_stub
) -> DataFrame:
    """Resize pass over image rows: Arrow-batched, only image-kind rows
    enter the UDF (the filter prunes before the Python boundary)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                raw = bytes(row.payload) if row.payload is not None else b""
                out.append(
                    {
                        "media_id": row.media_id,
                        "mime": row.mime,
                        "width": width,
                        "height": height,
                        "payload": resizer(raw, row.mime, width, height),
                    }
                )
            yield pd.DataFrame(out, columns=["media_id", "mime", "width", "height", "payload"])

    return (
        media.where(F.col("kind") == "image")
        .select("media_id", "mime", "payload")
        .mapInPandas(run, RESIZED_SCHEMA)
    )


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame sampling for video rows: emits one row per sampled timestamp.

    The timestamp grid is computed JVM-side (sequence over duration);
    actual frame extraction is the stubbed decode step — here each frame
    row carries the source payload reference; a real decoder would replace
    it with the decoded frame bytes in the downstream extract_features
    pass. The Spark-side shape (explode to frame rows, frame_idx/ts
    schema) is the real contract."""
    grid = media.where(F.col("kind") == "video").select(
        "media_id",
        "payload",
        F.posexplode(
            F.sequence(F.lit(0), F.greatest((F.col("duration_ms") / every_ms).cast("long") - 1, F.lit(0)))
        ).alias("frame_idx", "tick"),
    )
    return grid.select(
        "media_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        (F.col("tick") * every_ms).cast("long").alias("frame_ts_ms"),
        F.col("payload").alias("frame"),
    )


def media_stats(media: DataFrame) -> DataFrame:
    """Shape/duration rollup from the typed metadata columns only — the
    projection excludes `payload`, so column pruning keeps the bytes out of
    the scan entirely (verify via ReadSchema in explain)."""
    return (
        media.select("kind", "mime", "width", "height", "duration_ms")
        .groupBy("kind", "mime")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("width").alias("max_width"),
            F.max("height").alias("max_height"),
            F.sum("duration_ms").alias("total_duration_ms"),
        )
    )
