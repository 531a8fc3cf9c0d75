"""Dependency-free BMP codec — extends the multimodal codec tier
(operators/multimodal.py) with Windows bitmaps as found in web and
document corpora: BITMAPINFOHEADER and the V4/V5 extensions, bottom-up
and top-down rows, 1/4/8-bit palette, 16/24/32-bit direct color,
BI_BITFIELDS channel masks and RLE8/RLE4 compression.

The encoder writes 24-bit uncompressed (the universally-read form), so
decode(encode(x)) == x EXACTLY — the roundtrip oracle the tests pin.

Reference scope note: the binance reference pipeline has no media
handling (698 LoC of pandas/Kafka/dbt); this module extends the
multimodal-column surface the build brief requires.
"""

from __future__ import annotations

import struct

__all__ = ["decode_bmp", "encode_bmp"]

BMP_SIG = b"BM"


def _mask_shift(mask: int) -> tuple[int, int]:
    """(right-shift, bit-width) extracting a BITFIELDS channel."""
    if mask == 0:
        return 0, 0
    shift = (mask & -mask).bit_length() - 1
    width = (mask >> shift).bit_length()
    return shift, width


def decode_bmp(payload: bytes):
    """Decode a BMP to (w, h, HxWx3 uint8) — the decode_png contract
    (alpha, when present, is dropped; features and resize are
    RGB-defined)."""
    import numpy as np

    if payload[:2] != BMP_SIG or len(payload) < 54:
        raise ValueError("not a BMP payload")
    (data_off,) = struct.unpack("<I", payload[10:14])
    (hdr_size,) = struct.unpack("<I", payload[14:18])
    if hdr_size < 40:
        raise NotImplementedError(f"BMP core header (size {hdr_size})")
    w, h_signed = struct.unpack("<ii", payload[18:26])
    planes, bpp = struct.unpack("<HH", payload[26:30])
    (comp,) = struct.unpack("<I", payload[30:34])
    (clr_used,) = struct.unpack("<I", payload[46:50])
    top_down = h_signed < 0
    h = -h_signed if top_down else h_signed
    if not (0 < w and 0 < h and w * h <= 1 << 28):
        raise ValueError(f"implausible BMP dimensions {w}x{h}")
    if planes != 1:
        raise ValueError(f"corrupt BMP: {planes} planes")
    if bpp not in (1, 4, 8, 16, 24, 32):
        raise NotImplementedError(f"{bpp}-bit BMP")

    # channel masks: explicit for BI_BITFIELDS, conventions otherwise
    if comp == 3:
        if hdr_size >= 52 or hdr_size == 40:
            # V2+/V4/V5 keep masks in the header; plain
            # BITMAPINFOHEADER puts three masks right after it
            moff = 54 if hdr_size == 40 else 14 + 40
            rm, gm, bm = struct.unpack("<III", payload[moff : moff + 12])
        else:
            raise ValueError("corrupt BMP: BITFIELDS without masks")
        masks = (rm, gm, bm)
    elif bpp == 16:
        masks = (0x7C00, 0x03E0, 0x001F)  # default 5-5-5
    elif bpp == 32:
        masks = (0x00FF0000, 0x0000FF00, 0x000000FF)
    else:
        masks = None

    palette = None
    if bpp <= 8:
        n = clr_used or (1 << bpp)
        poff = 14 + hdr_size
        raw = np.frombuffer(payload[poff : poff + 4 * n], np.uint8)
        if raw.size < 4 * n:
            raise ValueError("corrupt BMP: truncated palette")
        palette = raw.reshape(-1, 4)[:, [2, 1, 0]].copy()  # BGRA -> RGB

    if comp in (1, 2):  # RLE8 / RLE4
        if (comp == 1 and bpp != 8) or (comp == 2 and bpp != 4):
            raise ValueError("corrupt BMP: RLE/bpp mismatch")
        idx = _decode_rle(payload[data_off:], w, h, nibble=(comp == 2))
        if palette is None or int(idx.max(initial=0)) >= len(palette):
            raise ValueError("corrupt BMP: pixel index outside palette")
        px = palette[idx]
        if not top_down:
            px = px[::-1]
        return w, h, np.ascontiguousarray(px)
    if comp not in (0, 3):
        raise NotImplementedError(f"BMP compression {comp}")

    stride = (w * bpp + 31) // 32 * 4
    need = stride * h
    data = np.frombuffer(payload[data_off : data_off + need], np.uint8)
    if data.size < need:
        raise ValueError("corrupt BMP: truncated pixel data")
    rows = data.reshape(h, stride)
    if bpp == 24:
        px = rows[:, : 3 * w].reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
    elif bpp in (16, 32):
        word = np.uint16 if bpp == 16 else np.uint32
        vals = (
            np.ascontiguousarray(rows[:, : (bpp // 8) * w])
            .view(word).reshape(h, w).astype(np.uint32)
        )
        chans = []
        for m in masks:
            sh, bw = _mask_shift(m)
            if bw == 0 or bw > 8 + 8:
                raise ValueError(f"corrupt BMP: channel mask 0x{m:x}")
            c = (vals & m) >> sh
            if bw < 8:  # scale to full 8-bit range
                c = (c * 255) // ((1 << bw) - 1)
            elif bw > 8:
                c = c >> (bw - 8)
            chans.append(c.astype(np.uint8))
        px = np.stack(chans, axis=2)
    else:  # 1/4/8-bit palette
        if bpp == 8:
            idx = rows[:, :w]
        else:
            bits = np.unpackbits(rows, axis=1)
            if bpp == 1:
                idx = bits[:, :w]
            else:
                idx = (
                    bits.reshape(h, -1, 4)
                    * np.array([8, 4, 2, 1], np.uint8)
                ).sum(axis=2)[:, :w]
        if palette is None or int(idx.max(initial=0)) >= len(palette):
            raise ValueError("corrupt BMP: pixel index outside palette")
        px = palette[idx]
    if not top_down:
        px = px[::-1]
    return w, h, np.ascontiguousarray(px.astype(np.uint8))


def _decode_rle(data: bytes, w: int, h: int, nibble: bool):
    """RLE8/RLE4 (bottom-up row order as stored; caller flips)."""
    import numpy as np

    out = np.zeros((h, w), np.uint8)
    x = y = i = 0
    while i + 1 < len(data):
        n, v = data[i], data[i + 1]
        i += 2
        if n:  # run
            if nibble:
                pair = [(v >> 4) & 0xF, v & 0xF]
                run = [pair[j % 2] for j in range(n)]
            else:
                run = [v] * n
            if y >= h or x + n > w:
                raise ValueError("corrupt BMP: RLE run past row end")
            out[y, x : x + n] = run
            x += n
        elif v == 0:  # end of line
            x, y = 0, y + 1
        elif v == 1:  # end of bitmap
            return out
        elif v == 2:  # delta
            if i + 1 >= len(data):
                raise ValueError("corrupt BMP: truncated RLE delta")
            x += data[i]
            y += data[i + 1]
            i += 2
            if x > w or y > h:
                raise ValueError("corrupt BMP: RLE delta outside image")
        else:  # absolute mode: v literal pixels, word-aligned
            cnt = v
            nbytes = (cnt + 1) // 2 if nibble else cnt
            nbytes += nbytes % 2  # pad to 16-bit boundary
            chunk = data[i : i + nbytes]
            if len(chunk) < nbytes:
                raise ValueError("corrupt BMP: truncated RLE literals")
            i += nbytes
            if nibble:
                vals = []
                for b in chunk:
                    vals.extend(((b >> 4) & 0xF, b & 0xF))
                vals = vals[:cnt]
            else:
                vals = list(chunk[:cnt])
            if y >= h or x + cnt > w:
                raise ValueError("corrupt BMP: RLE literals past row end")
            out[y, x : x + cnt] = vals
            x += cnt
    return out


def encode_bmp(pixels) -> bytes:
    """Encode an HxWx3 uint8 RGB array as 24-bit uncompressed BMP
    (bottom-up, BITMAPINFOHEADER) — readable everywhere, decodes back
    pixel-exactly."""
    import numpy as np

    px = np.asarray(pixels, np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError("encode_bmp expects an HxWx3 RGB array")
    h, w, _ = px.shape
    stride = (w * 3 + 3) // 4 * 4
    rows = np.zeros((h, stride), np.uint8)
    rows[:, : 3 * w] = px[::-1, :, ::-1].reshape(h, 3 * w)  # flip + RGB->BGR
    data = rows.tobytes()
    header = BMP_SIG + struct.pack("<IHHI", 14 + 40 + len(data), 0, 0, 14 + 40)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data),
                       2835, 2835, 0, 0)
    return header + info + data
