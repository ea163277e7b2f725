"""Pure-Python PNG codec (stdlib ``zlib`` + ``struct`` only) — the
real-image seam for the multimodal operators.

The container ships no Pillow/opencv, but PNG needs neither: the
format is zlib-compressed scanlines behind per-row difference filters
(RFC 2083).  This module implements a complete 8-bit decoder
(grayscale, gray+alpha, RGB, RGBA; all five filter types: None, Sub,
Up, Average, Paeth) and a matching encoder, so the Spark-side media
operators (`extract_image_features`, `image_phash`, `resize_images`)
run against GENUINE encoded images end-to-end — decode, luma
conversion, feature math, re-encode — with no fake-header shortcut.

Interlaced (Adam7) images are rejected explicitly: streaming-scale
ingest pipelines re-encode progressive sources anyway, and silent
misdecode would be worse than a typed error.

Luma: RGB collapses by ITU-R BT.601 integer weights
``(299*R + 587*G + 114*B) // 1000`` — exact integer math, so every
downstream signature (aHash cells, byte means) is engine-replayable
bit-for-bit, same as the rest of the engine's integer-core contracts.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

#: samples per pixel by PNG color type (8-bit depth only)
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor, vectorized over a scanline (int16 domain)."""
    p = a.astype(np.int16) + b.astype(np.int16) - c.astype(np.int16)
    pa = np.abs(p - a)
    pb = np.abs(p - b)
    pc = np.abs(p - c)
    out = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
    return out.astype(np.uint8)


def decode_png(buf: bytes) -> tuple[int, int, int, np.ndarray]:
    """Decode an 8-bit PNG.

    Returns ``(width, height, channels, pixels)`` with ``pixels`` a
    ``(height, width, channels)`` uint8 array.  Raises ``ValueError``
    on anything that is not a supported PNG (bad magic, CRC mismatch,
    non-8-bit depth, palette, interlace).
    """
    if len(buf) < 8 or buf[:8] != PNG_MAGIC:
        raise ValueError("not a PNG: bad signature")
    pos = 8
    width = height = None
    color_type = None
    idat = bytearray()
    while pos + 8 <= len(buf):
        (length,) = struct.unpack_from(">I", buf, pos)
        if pos + 12 + length > len(buf):
            raise ValueError("truncated PNG chunk")
        ctype = buf[pos + 4 : pos + 8]
        data = buf[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", buf, pos + 8 + length)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r}: CRC mismatch")
        pos += 12 + length
        if ctype == b"IHDR":
            width, height, depth, color_type, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
            if depth != 8:
                raise ValueError(f"unsupported bit depth {depth} (8 only)")
            if color_type not in _CHANNELS:
                raise ValueError(
                    f"unsupported color type {color_type} (palette PNGs "
                    "must be re-encoded truecolor upstream)"
                )
            if comp != 0 or filt != 0:
                raise ValueError("non-standard compression/filter method")
            if interlace != 0:
                raise ValueError("Adam7 interlace unsupported")
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            saw_iend = True
            break
    else:
        saw_iend = False
    if width is None:
        raise ValueError("PNG missing IHDR")
    if not saw_iend:
        raise ValueError("truncated PNG: no IEND chunk")
    ch = _CHANNELS[color_type]
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError(f"corrupt PNG IDAT stream: {e}") from None
    stride = width * ch
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG IDAT length mismatch")
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).copy()
        if ftype == 0:  # None
            cur = line
        elif ftype == 1:
            # Sub reconstructs as a per-channel prefix sum along the
            # row; uint8 accumulate wraps mod 256 exactly as the spec's
            # `& 0xFF`, so this is the vectorized form of the
            # sequential recurrence.
            cur = np.add.accumulate(
                line.reshape(width, ch), axis=0, dtype=np.uint8
            ).reshape(stride)
        elif ftype == 2:  # Up
            cur = line + prev
        elif ftype == 3:
            # Average's floor((left+up)/2) breaks the prefix-sum trick
            # (not affine mod 256), so the recurrence is inherently
            # sequential; run it over plain Python ints (lists), ~5x
            # cheaper per byte than numpy scalar indexing.  Throughput
            # ceiling: ~1-2 MB/s/core of filtered scanline — fine for
            # thumbnail/tile-scale media, too slow for photo-scale
            # corpora.
            ln = line.tolist()
            pv = prev.tolist()
            rec = ln[:ch]
            for x in range(ch):
                rec[x] = (ln[x] + (pv[x] >> 1)) & 0xFF
            for x in range(ch, stride):
                rec.append((ln[x] + ((rec[x - ch] + pv[x]) >> 1)) & 0xFF)
            cur = np.asarray(rec, dtype=np.uint8)
        elif ftype == 4:
            # Paeth: same sequential-dependence story as Average.
            ln = line.tolist()
            pv = prev.tolist()
            rec = []
            for x in range(stride):
                if x >= ch:
                    a = rec[x - ch]
                    c = pv[x - ch]
                else:
                    a = c = 0
                b = pv[x]
                p = a + b - c
                pa = p - a if p >= a else a - p
                pb = p - b if p >= b else b - p
                pc = p - c if p >= c else c - p
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec.append((ln[x] + pred) & 0xFF)
            cur = np.asarray(rec, dtype=np.uint8)
        else:
            raise ValueError(f"bad filter type {ftype} on row {y}")
        out[y] = cur
        prev = out[y]
    return int(width), int(height), ch, out.reshape(height, width, ch)


def luma(pixels: np.ndarray) -> np.ndarray:
    """Collapse ``(h, w, ch)`` uint8 pixels to a flat uint8 luma plane
    with exact integer BT.601 weights (alpha ignored)."""
    ch = pixels.shape[2]
    if ch in (1, 2):  # gray / gray+alpha
        return pixels[:, :, 0].reshape(-1)
    p = pixels.astype(np.int64)
    y = (299 * p[:, :, 0] + 587 * p[:, :, 1] + 114 * p[:, :, 2]) // 1000
    return y.astype(np.uint8).reshape(-1)


def encode_png(
    pixels: np.ndarray, filter_type: int = 0
) -> bytes:
    """Encode ``(h, w)`` or ``(h, w, ch)`` uint8 pixels as a PNG.

    ``filter_type`` selects the per-row filter (0-4) — useful for
    exercising every decoder branch; 0 (None) is the fastest write
    path for pipeline re-encodes.
    """
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    stride = w * ch
    flat = arr.reshape(h, stride)
    lines = bytearray()
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        cur = flat[y]
        left = np.concatenate(
            [np.zeros(ch, dtype=np.uint8), cur[:-ch]]
        ) if stride > ch else np.zeros(stride, dtype=np.uint8)
        up_left = np.concatenate(
            [np.zeros(ch, dtype=np.uint8), prev[:-ch]]
        ) if stride > ch else np.zeros(stride, dtype=np.uint8)
        if filter_type == 0:
            enc = cur
        elif filter_type == 1:
            enc = cur - left
        elif filter_type == 2:
            enc = cur - prev
        elif filter_type == 3:
            enc = cur - (
                (left.astype(np.int16) + prev.astype(np.int16)) >> 1
            ).astype(np.uint8)
        elif filter_type == 4:
            enc = cur - _paeth(left, prev, up_left)
        else:
            raise ValueError(f"bad filter type {filter_type}")
        lines.append(filter_type)
        lines.extend(enc.astype(np.uint8).tobytes())
        prev = cur

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(lines), 6))
        + chunk(b"IEND", b"")
    )
