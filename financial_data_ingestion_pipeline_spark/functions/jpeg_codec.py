"""Pure-numpy JPEG codec — no external imaging library.

Decodes Huffman-coded JPEGs with numpy alone, BASELINE (SOF0/SOF1)
and, since round 8, PROGRESSIVE (SOF2): markers, DQT/DHT parsing,
canonical Huffman decode with byte-stuffing and restart markers,
multi-scan coefficient accumulation with spectral selection and
successive approximation (DC/AC first + refinement passes, EOBRUN),
dequantize + zigzag, 8x8 IDCT as two numpy matmuls, chroma
upsampling for any 1-2x sampling factors, BT.601 YCbCr->RGB.  The
coding processes it does not implement — lossless, hierarchical, and
arithmetic entropy coding — raise ``ValueError``.

The encoder exists to GENERATE test vectors (grayscale / 4:4:4 /
4:2:0, Annex-K quantization scaled by quality, the spec's typical
Huffman tables; ``progressive=True`` emits a four-kind SOF2 scan
script whose decoded pixels provably equal the baseline encoding's)
so the decoder is exercised end-to-end without any third-party
binary; ``tests/test_jpeg.py`` additionally decodes a
hand-assembled DC-only stream with a known pixel value, which pins
the bitstream conventions (marker layout, canonical code order,
zigzag, level shift) independently of the encoder.

Spec constants (zigzag, Annex K.1/K.2 quantization, K.3 typical
Huffman tables) and the scan semantics (G.1.2, G.2) are from
ITU-T T.81 — the public standard.
"""
from __future__ import annotations

import struct

import numpy as np

__all__ = ["decode_jpeg", "encode_jpeg", "JPEG_MAGIC"]

JPEG_MAGIC = b"\xff\xd8\xff"

# Headers are untrusted: a corrupt SOF claiming 65535x65535 would allocate
# ~34 GB of float64 planes before the first entropy bit is read.  Reject
# anything above this COMPONENT-pixel count (width x height x n_components;
# module-level so a caller with genuinely huge scans can raise it before
# decoding).  Memory multiplier: progressive decode holds an int32
# coefficient store plus a float64 plane and einsum temporaries per
# component — budget ~12-16 bytes per component-pixel, so the default cap
# bounds one decode's transient working set to roughly 1 GB; size it DOWN
# when many images decode concurrently in one mapInPandas worker.
MAX_DECODE_PIXELS = 64_000_000

ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# ITU-T T.81 Annex K.1 / K.2
QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
QUANT_CHROMA = np.array(
    [17, 18, 24, 47, 99, 99, 99, 99,
     18, 21, 26, 66, 99, 99, 99, 99,
     24, 26, 56, 99, 99, 99, 99, 99,
     47, 66, 99, 99, 99, 99, 99, 99] + [99] * 32,
    dtype=np.int64,
)

# ITU-T T.81 Annex K.3 typical Huffman tables: (bits[1..16], values)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# Progressive AC scans need EOBn symbols ((r << 4) | 0 for r up to 14)
# which the baseline "typical" tables of Annex K.3 do not define, so
# the progressive encoder ships its own table: EVERY (run, size)
# symbol with run 0..15 and size 0..10 at a flat 9-bit code length —
# canonical, prefix-free by construction (176 codes < 2^9), terrible
# compression, perfect coverage.  Test-vector table, not Annex K.
AC_PROG_VALS = [
    (r << 4) | s for r in range(16) for s in range(11)
]
AC_PROG_BITS = [0] * 8 + [len(AC_PROG_VALS)] + [0] * 7

# 8x8 DCT-II basis: IDCT2(B) = M.T @ B @ M, FDCT2(X) = M @ X @ M.T
_K = np.arange(8)
_DCT_M = np.cos((2 * _K[None, :] + 1) * _K[:, None] * np.pi / 16) * 0.5
_DCT_M[0, :] *= 1 / np.sqrt(2)


def _canonical_codes(bits: list[int], vals: list[int]) -> dict:
    """(length, code) -> symbol for a canonical JPEG Huffman table."""
    table = {}
    code = 0
    i = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[i]
            code += 1
            i += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first reader over entropy-coded data with 0xFF00 unstuffing;
    stops at any marker (0xFF xx, xx != 0) and reports it."""

    def __init__(self, buf: bytes, pos: int) -> None:
        self.buf = buf
        self.pos = pos
        self.acc = 0
        self.n = 0
        self.marker: int | None = None

    def _fill(self) -> None:
        while self.n <= 24:
            if self.marker is not None or self.pos >= len(self.buf):
                self.acc = (self.acc << 8) & 0xFFFFFFFF
                self.n += 8  # pad (spec: pad bits after a marker are 1s,
                # but any decode touching pads is already past real data)
                continue
            b = self.buf[self.pos]
            if b == 0xFF:
                nxt = self.buf[self.pos + 1] if self.pos + 1 < len(self.buf) else 0
                if nxt == 0x00:
                    self.pos += 2
                else:
                    self.marker = nxt
                    continue
            else:
                self.pos += 1
            self.acc = ((self.acc << 8) | b) & 0xFFFFFFFF
            self.n += 8

    def read_bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def read_bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.read_bit()
        return v

    def decode(self, table: dict) -> int:
        length = 0
        code = 0
        while length < 16:
            code = (code << 1) | self.read_bit()
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in JPEG stream")

    def align_restart(self) -> None:
        """Consume up to a RSTn marker and resume after it."""
        # drop buffered bits; scan for the marker
        self.acc = 0
        self.n = 0
        if self.marker is None:
            while self.pos + 1 < len(self.buf):
                if self.buf[self.pos] == 0xFF and self.buf[self.pos + 1] != 0x00:
                    self.marker = self.buf[self.pos + 1]
                    break
                self.pos += 1
        if self.marker is not None and 0xD0 <= self.marker <= 0xD7:
            self.pos += 2
            self.marker = None


def _extend(v: int, t: int) -> int:
    """JPEG EXTEND: map t-bit magnitude to signed coefficient."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(buf: bytes) -> tuple[int, int, int, np.ndarray]:
    """Decode a Huffman-coded JPEG — baseline (SOF0/SOF1) or
    progressive (SOF2).

    Returns ``(width, height, n_components, pixels)`` with pixels
    ``uint8`` of shape (height, width) for grayscale or
    (height, width, 3) RGB for color — the same contract as
    ``png_codec.decode_png`` minus the alpha channel JPEG lacks.

    Every malformed-input failure surfaces as ``ValueError`` — a
    mapInPandas worker chewing a corrupt corpus blob must fail fast
    with one exception type callers can route to a quarantine column,
    never hang or leak parser internals.
    """
    try:
        return _decode_jpeg(buf)
    except (IndexError, KeyError, struct.error, OverflowError) as e:
        # OverflowError: a corrupt entropy stream can walk the DC
        # predictor past int64 over many garbage diffs (found by the
        # round-9 single-byte mutation fuzz) — same typed surface
        raise ValueError(
            f"corrupt or truncated JPEG ({type(e).__name__})"
        ) from e


def _decode_jpeg(buf: bytes) -> tuple[int, int, int, np.ndarray]:
    if buf[:3] != JPEG_MAGIC:
        raise ValueError("not a JPEG payload")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None
    restart_interval = 0
    comps: list[dict] = []
    progressive = False
    coeffs: list[np.ndarray] | None = None
    while pos < len(buf):
        if buf[pos] != 0xFF:
            pos += 1
            continue
        marker = buf[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        (seg_len,) = struct.unpack_from(">H", buf, pos)
        seg = buf[pos + 2 : pos + seg_len]
        if marker == 0xDB:  # DQT (possibly several tables)
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0xF
                i += 1
                if pq:
                    tbl = np.frombuffer(seg[i : i + 128], ">u2").astype(np.int64)
                    i += 128
                else:
                    tbl = np.frombuffer(seg[i : i + 64], "u1").astype(np.int64)
                    i += 64
                nat = np.empty(64, np.int64)
                nat[ZIGZAG] = tbl
                qt[tq] = nat.reshape(8, 8)
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            progressive = marker == 0xC2
            prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            if prec != 8:
                raise ValueError("only 8-bit baseline JPEG supported")
            if w == 0 or h == 0 or nc == 0:
                raise ValueError("corrupt JPEG: bad SOF dimensions")
            if nc not in (1, 3):
                raise ValueError(
                    f"unsupported JPEG component count {nc} (CMYK/YCCK "
                    "are not decoded; only 1 or 3 components)"
                )
            if w * h * nc > MAX_DECODE_PIXELS:
                raise ValueError(
                    f"JPEG header claims {w}x{h}x{nc} component-pixels, "
                    f"above the {MAX_DECODE_PIXELS} safety cap "
                    "(jpeg_codec.MAX_DECODE_PIXELS; ~55 bytes of "
                    "transient working set per component-pixel — "
                    "measured 3.3 GiB peak RSS decoding a cap-sized "
                    "image, the int64 coefficient + float64 IDCT stage "
                    "copies; test_jpeg.py pins the budget)"
                )
            comps = []
            for c in range(nc):
                cid, hv, tq = struct.unpack_from(">BBB", seg, 6 + 3 * c)
                ch, cv = hv >> 4, hv & 0xF
                if not (1 <= ch <= 4 and 1 <= cv <= 4):
                    raise ValueError("corrupt JPEG: sampling factor not in 1..4")
                comps.append({"id": cid, "h": ch, "v": cv, "tq": tq})
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            for c in comps:
                if hmax % c["h"] or vmax % c["v"]:
                    # spec-legal but outside the integer-repeat
                    # upsampler (e.g. 3:2 chroma) — reject cleanly
                    # instead of dying in a numpy broadcast later
                    raise ValueError(
                        "unsupported JPEG chroma sampling (non-integer "
                        "upsample ratio); only integer ratios decode"
                    )
            frame = (w, h, nc)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "unsupported JPEG coding process (lossless/hierarchical/"
                "arithmetic); only baseline and progressive Huffman "
                "decode"
            )
        elif marker == 0xC4:  # DHT (possibly several tables)
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0xF
                bits = list(seg[i + 1 : i + 17])
                nv = sum(bits)
                vals = list(seg[i + 17 : i + 17 + nv])
                huff[(tc, th)] = _canonical_codes(bits, vals)
                i += 17 + nv
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("corrupt JPEG: SOS before SOF")
            ns = seg[0]
            scan_sel = []
            for c in range(ns):
                cid, tables = seg[1 + 2 * c], seg[2 + 2 * c]
                scan_sel.append((cid, tables >> 4, tables & 0xF))
            data_pos = pos + seg_len
            if not progressive:
                return _decode_scan(
                    buf, data_pos, frame,
                    comps, {cid: (d, a) for cid, d, a in scan_sel},
                    qt, huff, restart_interval,
                )
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0xF
            if coeffs is None:
                coeffs = _alloc_coeffs(frame, comps)
            pos = _decode_progressive_scan(
                buf, data_pos, frame, comps, scan_sel, huff,
                restart_interval, coeffs, ss, se, ah, al,
            )
            continue  # more scans (or EOI) follow
        pos += seg_len
    if progressive and coeffs is not None:
        return _reconstruct_progressive(frame, comps, qt, coeffs)
    raise ValueError("no SOS marker: truncated or unsupported JPEG")


def _decode_scan(buf, pos, frame, comps, sel, qt, huff, restart_interval):
    w, h, nc = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    planes = []
    for c in comps:
        pw, ph = mcus_x * 8 * c["h"], mcus_y * 8 * c["v"]
        planes.append(np.zeros((ph, pw), np.float64))
    reader = _BitReader(buf, pos)
    pred = [0] * nc
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                reader.align_restart()
                pred = [0] * nc
            for ci, c in enumerate(comps):
                dc_tbl = huff[(0, sel[c["id"]][0])]
                ac_tbl = huff[(1, sel[c["id"]][1])]
                q = qt[c["tq"]]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        zz = np.zeros(64, np.int64)
                        t = reader.decode(dc_tbl)
                        diff = _extend(reader.read_bits(t), t)
                        pred[ci] += diff
                        zz[0] = pred[ci]
                        k = 1
                        while k < 64:
                            rs = reader.decode(ac_tbl)
                            r, s = rs >> 4, rs & 0xF
                            if s == 0:
                                if r == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC run past block end")
                            zz[k] = _extend(reader.read_bits(s), s)
                            k += 1
                        blk = np.empty(64, np.float64)
                        blk[ZIGZAG] = zz * q.reshape(-1)[ZIGZAG]
                        px = _DCT_M.T @ blk.reshape(8, 8) @ _DCT_M + 128.0
                        y0 = (my * c["v"] + by) * 8
                        x0 = (mx * c["h"] + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = px
            mcu_count += 1
    # upsample each plane to full resolution and crop
    full = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        p = np.repeat(np.repeat(p, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        full.append(p[:h, :w])
    if nc == 1:
        return w, h, 1, np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=-1)
    return w, h, 3, np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# Encoder (test-vector generator): baseline, gray / 4:4:4 / 4:2:0
# ---------------------------------------------------------------------------


def _comp_grids(frame, comps):
    """Per-component block geometry: (mcus_x, mcus_y, [(bw, bh,
    bw_pad, bh_pad)]) where bw/bh cover the component's OWN scaled
    dimensions (non-interleaved scan order) and the _pad variants the
    MCU-padded grid (interleaved order / storage)."""
    w, h, _nc = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    geo = []
    for c in comps:
        cw = -(-w * c["h"] // hmax)
        ch_ = -(-h * c["v"] // vmax)
        geo.append((
            -(-cw // 8), -(-ch_ // 8), mcus_x * c["h"], mcus_y * c["v"]
        ))
    return mcus_x, mcus_y, geo


def _alloc_coeffs(frame, comps) -> list[np.ndarray]:
    """One MCU-padded (blocks_y, blocks_x, 64) int32 array per
    component, coefficients in ZIGZAG index order (same convention as
    the baseline block decode), accumulated across progressive scans.
    """
    _mx, _my, geo = _comp_grids(frame, comps)
    return [
        np.zeros((bh_pad, bw_pad, 64), np.int32)
        for (_bw, _bh, bw_pad, bh_pad) in geo
    ]


def _decode_progressive_scan(
    buf, pos, frame, comps, scan_sel, huff, restart_interval,
    coeffs, ss, se, ah, al,
) -> int:
    """One progressive scan (T.81 G.2): DC first/refine (optionally
    interleaved), AC first/refine (single component, spectral band
    ``ss..se``, successive-approximation shift ``al``).  Updates
    ``coeffs`` in place and returns the buffer position of the marker
    that ends the scan's entropy data."""
    if not 0 <= se <= 63 or ss > se or (ss == 0 and se != 0):
        raise ValueError("corrupt JPEG: bad progressive spectral band")
    by_id = {c["id"]: ci for ci, c in enumerate(comps)}
    try:
        scomp = [(by_id[cid], dc_t, ac_t) for cid, dc_t, ac_t in scan_sel]
    except KeyError:
        raise ValueError("corrupt JPEG: scan references unknown component")
    reader = _BitReader(buf, pos)
    mcus_x, mcus_y, geo = _comp_grids(frame, comps)

    def maybe_restart(count, preds):
        if restart_interval and count and count % restart_interval == 0:
            reader.align_restart()
            for i in range(len(preds)):
                preds[i] = 0
            return 0  # resets eobrun too (AC path)
        return None

    if ss == 0:  # DC scan
        preds = [0] * len(scomp)
        units = 0
        if len(scomp) > 1:  # interleaved: MCU order
            order = []
            for my in range(mcus_y):
                for mx in range(mcus_x):
                    order.append((my, mx))
            for my, mx in order:
                maybe_restart(units, preds)
                for si, (ci, dc_t, _ac_t) in enumerate(scomp):
                    c = comps[ci]
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            _dc_unit(
                                reader, huff, coeffs[ci],
                                my * c["v"] + by, mx * c["h"] + bx,
                                dc_t, ah, al, preds, si,
                            )
                units += 1
        else:  # single component: raster over its own block grid
            ci, dc_t, _ac_t = scomp[0]
            bw, bh, _bwp, _bhp = geo[ci]
            for byy in range(bh):
                for bxx in range(bw):
                    maybe_restart(units, preds)
                    _dc_unit(
                        reader, huff, coeffs[ci], byy, bxx,
                        dc_t, ah, al, preds, 0,
                    )
                    units += 1
    else:  # AC scan: spec requires exactly one component
        if len(scomp) != 1:
            raise ValueError("corrupt JPEG: interleaved progressive AC scan")
        ci, _dc_t, ac_t = scomp[0]
        try:
            tbl = huff[(1, ac_t)]
        except KeyError:
            raise ValueError("corrupt JPEG: missing AC Huffman table")
        bw, bh, _bwp, _bhp = geo[ci]
        eobrun = 0
        units = 0
        for byy in range(bh):
            for bxx in range(bw):
                if restart_interval and units and units % restart_interval == 0:
                    reader.align_restart()
                    eobrun = 0
                blk = coeffs[ci][byy, bxx]
                if ah == 0:
                    eobrun = _ac_first_block(reader, tbl, blk, ss, se, al,
                                             eobrun)
                else:
                    eobrun = _ac_refine_block(reader, tbl, blk, ss, se, al,
                                              eobrun)
                units += 1
    return reader.pos


def _dc_unit(reader, huff, carr, byy, bxx, dc_t, ah, al, preds, si):
    if byy >= carr.shape[0] or bxx >= carr.shape[1]:
        raise ValueError("corrupt JPEG: DC block outside component grid")
    if ah == 0:  # first pass: differential DC at precision al
        try:
            tbl = huff[(0, dc_t)]
        except KeyError:
            raise ValueError("corrupt JPEG: missing DC Huffman table")
        t = reader.decode(tbl)
        preds[si] += _extend(reader.read_bits(t), t)
        carr[byy, bxx, 0] = preds[si] << al
    else:  # refinement: one raw bit (OR works on two's complement)
        if reader.read_bit():
            carr[byy, bxx, 0] |= 1 << al


def _ac_first_block(reader, tbl, blk, ss, se, al, eobrun) -> int:
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = reader.decode(tbl)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            eobrun = (1 << r) - 1
            if r:
                eobrun += reader.read_bits(r)
            break
        k += r
        if k > se:
            raise ValueError("AC run past band end")
        blk[k] = _extend(reader.read_bits(s), s) << al
        k += 1
    return eobrun


def _ac_refine_block(reader, tbl, blk, ss, se, al, eobrun) -> int:
    """T.81 G.1.2.3 AC successive-approximation refinement: one
    correction bit per already-nonzero coefficient, newly-significant
    coefficients coded as (zero-history run, magnitude 1)."""
    p1 = 1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = reader.decode(tbl)
            r, s = rs >> 4, rs & 0xF
            newval = 0
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.read_bits(r)
                    break
                # ZRL: 16 zero-history positions, nothing inserted
            else:
                if s != 1:
                    raise ValueError("invalid AC refinement magnitude")
                newval = p1 if reader.read_bit() else -p1
            while k <= se:
                if blk[k] != 0:
                    if reader.read_bit() and not (blk[k] & p1):
                        blk[k] += p1 if blk[k] >= 0 else -p1
                else:
                    r -= 1
                    if r < 0:
                        break
                k += 1
            if newval:
                if k > se:
                    raise ValueError("AC refinement run past band end")
                blk[k] = newval
            k += 1
    if eobrun > 0:
        # correction bits for the tail of this block (and, via the
        # carried counter, for each further block wholly in the run)
        while k <= se:
            if blk[k] != 0:
                if reader.read_bit() and not (blk[k] & p1):
                    blk[k] += p1 if blk[k] >= 0 else -p1
            k += 1
        eobrun -= 1
    return eobrun


def _reconstruct_progressive(frame, comps, qt, coeffs):
    """Dequantize + IDCT the accumulated coefficient store and finish
    exactly like the baseline path (upsample any 1-2x factors, crop,
    BT.601)."""
    w, h, nc = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    full = []
    for ci, c in enumerate(comps):
        try:
            q = qt[c["tq"]]
        except KeyError:
            raise ValueError("corrupt JPEG: missing quantization table")
        arr = coeffs[ci].astype(np.float64)
        bh_pad, bw_pad, _ = arr.shape
        qz = q.reshape(-1)[ZIGZAG]
        nat = np.zeros_like(arr)
        nat[..., ZIGZAG] = arr * qz[None, None, :]
        blocks = nat.reshape(bh_pad, bw_pad, 8, 8)
        px = np.einsum("ij,abjk,kl->abil", _DCT_M.T, blocks, _DCT_M) + 128.0
        plane = px.transpose(0, 2, 1, 3).reshape(bh_pad * 8, bw_pad * 8)
        plane = np.repeat(
            np.repeat(plane, vmax // c["v"], axis=0), hmax // c["h"], axis=1
        )
        full.append(plane[:h, :w])
    if nc == 1:
        return w, h, 1, np.clip(np.round(full[0]), 0, 255).astype(np.uint8)
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=-1)
    return w, h, 3, np.clip(np.round(rgb), 0, 255).astype(np.uint8)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = 0
                self.n = 0

    def flush(self) -> bytes:
        if self.n:
            self.acc = (self.acc << (8 - self.n)) | ((1 << (8 - self.n)) - 1)
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.n = 0
        return bytes(self.out)


def _encode_codes(bits, vals) -> dict:
    return {
        sym: (length, code)
        for (length, code), sym in _canonical_codes(bits, vals).items()
    }


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


def _scaled_quant(base: np.ndarray, quality: int) -> np.ndarray:
    quality = min(100, max(1, quality))
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (base * s + 50) // 100
    return np.clip(q, 1, 255).reshape(8, 8)


def _progressive_scans(zz_all, geometry, mcus, wh, dc_codes, ac_prog):
    """Yield (SOS header bytes, entropy bytes) for the four-kind
    progressive scan script: interleaved DC first (Al=1), DC
    refinement, then per component AC first (Al=1) and AC refinement —
    EOBRUN accumulation in both AC kinds (T.81 G.1.2.2-3, the
    algorithm of libjpeg's encode_mcu_AC_first/refine)."""
    mcus_x, mcus_y = mcus
    w, h = wh
    n = len(geometry)
    hmax = max(ch for ch, _cv in geometry)
    vmax = max(cv for _ch, cv in geometry)
    own = []
    for ch, cv in geometry:
        cw = -(-w * ch // hmax)
        chh = -(-h * cv // vmax)
        own.append((-(-cw // 8), -(-chh // 8)))

    def mcu_blocks():
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for ci, (ch, cv) in enumerate(geometry):
                    for by in range(cv):
                        for bx in range(ch):
                            yield ci, my * cv + by, mx * ch + bx

    def sos_hdr(comp_ids, tables, ss, se, ah, al):
        body = bytes([len(comp_ids)])
        for cid, t in zip(comp_ids, tables):
            body += bytes([cid + 1, t])
        return body + bytes([ss, se, (ah << 4) | al])

    # scan 1: DC first, interleaved, Al=1 (arithmetic shift per spec)
    bwr = _BitWriter()
    pred = [0] * n
    for ci, byy, bxx in mcu_blocks():
        tsel = 0 if ci == 0 else 1
        v = int(zz_all[ci][byy, bxx, 0]) >> 1
        diff = v - pred[ci]
        pred[ci] = v
        t = _category(diff)
        length, code = dc_codes[tsel][t]
        bwr.write(code, length)
        if t:
            bwr.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
    yield sos_hdr(
        range(n), [((0 if ci == 0 else 1) << 4) for ci in range(n)],
        0, 0, 0, 1,
    ), bwr.flush()

    # scan 2: DC refinement, raw low bits (two's complement)
    bwr = _BitWriter()
    for ci, byy, bxx in mcu_blocks():
        bwr.write(int(zz_all[ci][byy, bxx, 0]) & 1, 1)
    yield sos_hdr(range(n), [0] * n, 0, 0, 1, 0), bwr.flush()

    # scans 3..: per component, AC first (Al=1) then AC refinement
    for ci in range(n):
        bw_c, bh_c = own[ci]
        yield sos_hdr([ci], [2], 1, 63, 0, 1), _ac_first_scan_bytes(
            zz_all[ci], bw_c, bh_c, ac_prog, 1
        )
    for ci in range(n):
        bw_c, bh_c = own[ci]
        yield sos_hdr([ci], [2], 1, 63, 1, 0), _ac_refine_scan_bytes(
            zz_all[ci], bw_c, bh_c, ac_prog, 1, 0
        )


def _ac_first_scan_bytes(arr, bw_c, bh_c, ac, al) -> bytes:
    """AC first pass over one component's own block grid: band 1..63
    at precision ``al`` (sign-magnitude shift), EOBRUN-accumulated."""
    bwr = _BitWriter()
    eobrun = 0

    def flush_eob():
        nonlocal eobrun
        if eobrun:
            nbits = eobrun.bit_length() - 1
            length, code = ac[nbits << 4]
            bwr.write(code, length)
            if nbits:
                bwr.write(eobrun & ((1 << nbits) - 1), nbits)
            eobrun = 0

    for byy in range(bh_c):
        for bxx in range(bw_c):
            zz = arr[byy, bxx]
            vals = [
                (int(v) >> al) if v >= 0 else -((-int(v)) >> al)
                for v in zz[1:64]
            ]
            nz = [i for i, v in enumerate(vals) if v]
            if not nz:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob()
                continue
            flush_eob()
            last = nz[-1]
            run = 0
            for i, v in enumerate(vals):
                if i > last:
                    break
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    length, code = ac[0xF0]
                    bwr.write(code, length)
                    run -= 16
                s = _category(v)
                length, code = ac[(run << 4) | s]
                bwr.write(code, length)
                bwr.write(v if v >= 0 else v + (1 << s) - 1, s)
                run = 0
            if last < 62:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob()
    flush_eob()
    return bwr.flush()


def _ac_refine_scan_bytes(arr, bw_c, bh_c, ac, ah, al) -> bytes:
    """AC refinement pass (T.81 G.1.2.3 / libjpeg
    encode_mcu_AC_refine): newly-significant coefficients as
    (zero-history run, 1) symbols with sign bits, one buffered
    correction bit per already-significant coefficient, EOB runs with
    their correction bits appended."""
    bwr = _BitWriter()
    eobrun = 0
    pending: list[int] = []

    def flush_eob():
        nonlocal eobrun, pending
        if eobrun or pending:
            nbits = eobrun.bit_length() - 1 if eobrun else 0
            length, code = ac[nbits << 4]
            bwr.write(code, length)
            if nbits:
                bwr.write(eobrun & ((1 << nbits) - 1), nbits)
            for b in pending:
                bwr.write(b, 1)
            eobrun = 0
            pending = []

    for byy in range(bh_c):
        for bxx in range(bw_c):
            zz = arr[byy, bxx]
            absv = [abs(int(v)) >> al for v in zz[1:64]]
            eob = -1
            for i, t in enumerate(absv):
                if t == 1:
                    eob = i
            run = 0
            br: list[int] = []
            for i, t in enumerate(absv):
                if t == 0:
                    run += 1
                    continue
                while run > 15 and i <= eob:
                    flush_eob()
                    length, code = ac[0xF0]
                    bwr.write(code, length)
                    run -= 16
                    for b in br:
                        bwr.write(b, 1)
                    br = []
                if t > 1:
                    br.append(t & 1)
                    continue
                flush_eob()
                length, code = ac[(run << 4) | 1]
                bwr.write(code, length)
                bwr.write(1 if int(zz[1 + i]) >= 0 else 0, 1)
                for b in br:
                    bwr.write(b, 1)
                br = []
                run = 0
            if run > 0 or br:
                eobrun += 1
                pending.extend(br)
                if eobrun == 0x7FFF:
                    flush_eob()
    flush_eob()
    return bwr.flush()


def encode_jpeg(
    pixels: np.ndarray,
    quality: int = 90,
    subsampling: tuple[int, int] = (1, 1),
    progressive: bool = False,
) -> bytes:
    """Encode uint8 pixels (H,W) grayscale or (H,W,3) RGB as baseline
    JPEG with the spec's typical Huffman tables; ``subsampling=(2,2)``
    selects 4:2:0 chroma.  A test-vector generator, not a production
    sink — images at 100 TB stay opaque binaries; this exists so the
    DECODER is testable with zero external dependencies.

    ``progressive=True`` emits a SOF2 stream with a four-kind scan
    script — interleaved DC first (Al=1), DC refinement, per-component
    AC first (Ss=1..63, Al=1) and AC refinement (Ah=1) — i.e. BOTH
    spectral selection and successive approximation, so the
    progressive decoder's EOBRUN and correction-bit paths are all
    exercised.  The quantized coefficients are identical to the
    baseline encoding, so decode(progressive) == decode(baseline)
    pixel-for-pixel."""
    px = np.asarray(pixels)
    gray = px.ndim == 2
    h, w = px.shape[:2]
    ql = _scaled_quant(QUANT_LUMA, quality)
    qc = _scaled_quant(QUANT_CHROMA, quality)
    if gray:
        comps = [(px.astype(np.float64), ql, 1, 1)]
    else:
        rgb = px.astype(np.float64)
        y = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
        cb = -0.168736 * rgb[..., 0] - 0.331264 * rgb[..., 1] + 0.5 * rgb[..., 2] + 128
        cr = 0.5 * rgb[..., 0] - 0.418688 * rgb[..., 1] - 0.081312 * rgb[..., 2] + 128
        sh, sv = subsampling
        if (sh, sv) != (1, 1):
            def _down(p):
                ph = -(-p.shape[0] // sv) * sv
                pw = -(-p.shape[1] // sh) * sh
                pad = np.pad(p, ((0, ph - p.shape[0]), (0, pw - p.shape[1])),
                             mode="edge")
                return pad.reshape(ph // sv, sv, pw // sh, sh).mean(axis=(1, 3))

            cb, cr = _down(cb), _down(cr)
        comps = [(y, ql, sh, sv), (cb, qc, 1, 1), (cr, qc, 1, 1)]
    hmax = max(c[2] for c in comps)
    vmax = max(c[3] for c in comps)

    dc_codes = [_encode_codes(DC_LUMA_BITS, DC_LUMA_VALS),
                _encode_codes(DC_CHROMA_BITS, DC_CHROMA_VALS)]
    ac_codes = [_encode_codes(AC_LUMA_BITS, AC_LUMA_VALS),
                _encode_codes(AC_CHROMA_BITS, AC_CHROMA_VALS)]

    # pad each component plane to MCU multiples
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    padded = []
    for plane, q, ch, cv in comps:
        ph, pw = mcus_y * 8 * cv, mcus_x * 8 * ch
        plane = np.pad(
            plane,
            ((0, ph - plane.shape[0]), (0, pw - plane.shape[1])),
            mode="edge",
        )
        padded.append((plane, q, ch, cv))

    # quantized coefficient blocks (zigzag order) per component, over
    # the MCU-padded grid — shared by the baseline single-scan body
    # and the progressive scan script
    zz_all = []
    for plane, q, ch, cv in padded:
        byp, bxp = mcus_y * cv, mcus_x * ch
        arr = np.empty((byp, bxp, 64), np.int64)
        for byy in range(byp):
            for bxx in range(bxp):
                blk = plane[byy * 8 : byy * 8 + 8, bxx * 8 : bxx * 8 + 8] - 128.0
                coef = _DCT_M @ blk @ _DCT_M.T
                arr[byy, bxx] = np.round(coef / q).astype(np.int64).reshape(-1)[
                    ZIGZAG
                ]
        zz_all.append(arr)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xDB, b"\x00" + bytes(ql.reshape(-1)[ZIGZAG].astype(np.uint8)))
    if not gray:
        out += seg(0xDB, b"\x01" + bytes(qc.reshape(-1)[ZIGZAG].astype(np.uint8)))
    sof = struct.pack(">BHHB", 8, h, w, len(comps))
    for ci, (_p, _q, ch, cv) in enumerate(comps):
        sof += struct.pack(">BBB", ci + 1, (ch << 4) | cv, 0 if ci == 0 else 1)
    out += seg(0xC2 if progressive else 0xC0, sof)
    for tc, th, bits, vals in (
        (0, 0, DC_LUMA_BITS, DC_LUMA_VALS),
        (1, 0, AC_LUMA_BITS, AC_LUMA_VALS),
        (0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS),
        (1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS),
    )[: 2 if gray else 4]:
        out += seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals))

    geometry = [(ch, cv) for (_p, _q, ch, cv) in comps]
    if progressive:
        # the EOBn-complete flat table the progressive AC scans select
        # as id 2 (progressive DHT ids may be 0..3; baseline's 0..1
        # limit does not apply to SOF2 streams)
        out += seg(
            0xC4,
            bytes([(1 << 4) | 2]) + bytes(AC_PROG_BITS)
            + bytes(AC_PROG_VALS),
        )
        ac_prog = _encode_codes(AC_PROG_BITS, AC_PROG_VALS)
        for sos_hdr, entropy in _progressive_scans(
            zz_all, geometry, (mcus_x, mcus_y), (w, h),
            dc_codes, ac_prog,
        ):
            out += seg(0xDA, sos_hdr)
            out += entropy
        out += b"\xff\xd9"
        return bytes(out)

    bw = _BitWriter()
    pred = [0] * len(comps)
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci, (_plane, _q, ch, cv) in enumerate(padded):
                tsel = 0 if ci == 0 else 1
                for by in range(cv):
                    for bx in range(ch):
                        zz = zz_all[ci][my * cv + by, mx * ch + bx]
                        diff = int(zz[0]) - pred[ci]
                        pred[ci] = int(zz[0])
                        t = _category(diff)
                        length, code = dc_codes[tsel][t]
                        bw.write(code, length)
                        if t:
                            bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
                        run = 0
                        last_nz = max(np.nonzero(zz)[0]) if np.any(zz[1:]) else 0
                        for k in range(1, 64):
                            v = int(zz[k])
                            if k > last_nz:
                                length, code = ac_codes[tsel][0x00]  # EOB
                                bw.write(code, length)
                                break
                            if v == 0:
                                run += 1
                                continue
                            while run > 15:
                                length, code = ac_codes[tsel][0xF0]  # ZRL
                                bw.write(code, length)
                                run -= 16
                            s = _category(v)
                            length, code = ac_codes[tsel][(run << 4) | s]
                            bw.write(code, length)
                            bw.write(v if v >= 0 else v + (1 << s) - 1, s)
                            run = 0

    sos = bytes([len(comps)])
    for ci in range(len(comps)):
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    sos += b"\x00\x3f\x00"
    out += seg(0xDA, sos)
    out += bw.flush()
    out += b"\xff\xd9"
    return bytes(out)
