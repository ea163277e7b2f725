"""JPEG codec tests (baseline + progressive) — no external imaging library anywhere.

The decoder is validated two independent ways: a HAND-ASSEMBLED
DC-only bitstream with pixel values computed from the spec's math
(pins marker layout, canonical Huffman order, zigzag, EXTEND, level
shift, restart handling — independent of the encoder), plus
encoder->decoder roundtrips across grayscale / 4:4:4 / 4:2:0 / odd
dimensions (pins the full AC path, byte stuffing, subsampling).
"""
from __future__ import annotations

import os
import struct

import numpy as np
import pytest

# slow tier (round 12): pure-python DCT roundtrips + a 90 s RSS-budget
# decode — run with `-m slow`
pytestmark = pytest.mark.slow

from financial_data_ingestion_pipeline_spark.functions import jpeg_codec as J


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body


def _handmade_dc_only(two_mcus: bool = False) -> bytes:
    """Gray baseline JPEG, quant table all ones, DC-only blocks.

    Block 1: DC=80 -> pixels 80/8 + 128 = 138 (category 7, code
    '11110', magnitude bits '1010000', EOB '1010' -> exactly 2 bytes
    0xF5 0x0A, byte-aligned for the restart variant).
    Block 2 (after RST0, predictor reset): DC=-16 -> 126 (category 5,
    code '110', bits -16+31=15 -> '01111', EOB, pad 1s -> 0xCF 0xAF).
    """
    w = 16 if two_mcus else 8
    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, b"\x00" + bytes([1] * 64))
    out += _seg(0xC0, struct.pack(">BHHB", 8, 8, w, 1) + bytes([1, 0x11, 0]))
    out += _seg(
        0xC4,
        bytes([0x00]) + bytes(J.DC_LUMA_BITS) + bytes(J.DC_LUMA_VALS),
    )
    out += _seg(
        0xC4,
        bytes([0x10]) + bytes(J.AC_LUMA_BITS) + bytes(J.AC_LUMA_VALS),
    )
    if two_mcus:
        out += _seg(0xDD, struct.pack(">H", 1))  # DRI: restart every MCU
    out += _seg(0xDA, bytes([1, 1, 0x00]) + b"\x00\x3f\x00")
    out += bytes([0xF5, 0x0A])
    if two_mcus:
        out += bytes([0xFF, 0xD0])  # RST0
        out += bytes([0xCF, 0xAF])
    out += b"\xff\xd9"
    return bytes(out)


def test_handmade_dc_only_known_pixels():
    w, h, nc, px = J.decode_jpeg(_handmade_dc_only())
    assert (w, h, nc) == (8, 8, 1)
    assert px.shape == (8, 8) and (px == 138).all()


def test_handmade_restart_marker_resets_predictor():
    w, h, nc, px = J.decode_jpeg(_handmade_dc_only(two_mcus=True))
    assert (w, h, nc) == (16, 8, 1)
    assert (px[:, :8] == 138).all()
    assert (px[:, 8:] == 126).all(), "RST0 must reset the DC predictor"


def test_gray_flat_roundtrip_exact_every_quality():
    for q in (30, 75, 90, 100):
        for val in (0, 128, 200, 255):
            img = np.full((24, 16), val, np.uint8)
            w, h, nc, out = J.decode_jpeg(J.encode_jpeg(img, quality=q))
            assert (w, h, nc) == (16, 24, 1)
            assert int(np.abs(out.astype(int) - int(val)).max()) <= 1, (q, val)


def test_gray_gradient_roundtrip_close():
    yy, xx = np.mgrid[0:40, 0:56]
    img = ((yy * 3 + xx * 2) % 256).astype(np.uint8)
    img = (img // 8 * 8).astype(np.uint8)  # mild detail
    _w, _h, _nc, out = J.decode_jpeg(J.encode_jpeg(img, quality=95))
    err = np.abs(out.astype(int) - img.astype(int))
    assert err.mean() < 3 and err.max() < 25


def test_color_444_and_420_roundtrip_close_and_odd_dims():
    yy, xx = np.mgrid[0:19, 0:13]  # odd dims: crop path exercised
    img = np.stack(
        [
            (yy * 6).astype(np.uint8),
            (xx * 9).astype(np.uint8),
            ((yy + xx) * 4).astype(np.uint8),
        ],
        axis=-1,
    )
    for sub in ((1, 1), (2, 2)):
        buf = J.encode_jpeg(img, quality=95, subsampling=sub)
        w, h, nc, out = J.decode_jpeg(buf)
        assert (w, h, nc) == (13, 19, 3)
        err = np.abs(out.astype(int) - img.astype(int))
        # chroma subsampling loses color detail by design; luma stays
        # tight either way
        luma_in = (299 * img[..., 0].astype(int) + 587 * img[..., 1]
                   + 114 * img[..., 2]) // 1000
        luma_out = (299 * out[..., 0].astype(int) + 587 * out[..., 1]
                    + 114 * out[..., 2]) // 1000
        lerr = np.abs(luma_out - luma_in)
        assert lerr.mean() < 4, sub
        assert err.mean() < (6 if sub == (1, 1) else 20), sub


def test_arithmetic_jpeg_rejected_with_guidance():
    """Progressive (SOF2) decodes natively since round 8; the coding
    processes the codec does not implement — arithmetic entropy
    coding, lossless — raise a ValueError naming the process."""
    for sof in (0xC9, 0xC3):  # arithmetic sequential, lossless
        buf = bytearray(_handmade_dc_only())
        i = buf.find(b"\xff\xc0")
        buf[i + 1] = sof
        with pytest.raises(ValueError, match="unsupported JPEG coding process"):
            J.decode_jpeg(bytes(buf))


def test_default_decoder_sniffs_jpeg_magic():
    from financial_data_ingestion_pipeline_spark.functions.multimodal import (
        _default_decode,
    )

    img = np.full((8, 8), 77, np.uint8)
    w, h, body = _default_decode(J.encode_jpeg(img, quality=90))
    assert (w, h) == (8, 8)
    assert np.abs(
        np.frombuffer(body, np.uint8).astype(int) - 77
    ).max() <= 1


def test_byte_stuffing_roundtrip():
    """An image tuned to emit 0xFF entropy bytes exercises stuffing on
    encode and unstuffing on decode (checked structurally: the stream
    decodes, and some stuffed 0xFF00 pair exists)."""
    rng = np.random.default_rng(7)
    img = (rng.integers(0, 2, (32, 32)) * 255).astype(np.uint8)
    buf = J.encode_jpeg(img, quality=50)
    _w, _h, _nc, out = J.decode_jpeg(buf)
    assert out.shape == (32, 32)
    scan = buf[buf.find(b"\xff\xda") :]
    assert b"\xff\x00" in scan, "no stuffed byte — weak test vector"


def test_extract_image_features_over_jpeg_payloads(spark):
    """The Spark-side feature extractor consumes real JPEG binaries
    through the default decoder, with no external codec."""
    import pandas as pd

    from financial_data_ingestion_pipeline_spark.functions.multimodal import (
        extract_image_features,
    )
    from financial_data_ingestion_pipeline_spark.session import (
        ensure_runtime_conf,
    )

    ensure_runtime_conf(spark)
    rows = []
    for i, val in enumerate((0, 90, 180)):
        img = np.full((16 + i, 8), val, np.uint8)
        rows.append((i, J.encode_jpeg(img, quality=90)))
    media = spark.createDataFrame(
        pd.DataFrame(rows, columns=["media_id", "content"])
    )
    got = {
        r.media_id: (r.width, r.height, round(r.mean_byte))
        for r in extract_image_features(media).collect()
    }
    assert got == {0: (8, 16, 0), 1: (8, 17, 90), 2: (8, 18, 180)}


def test_truncated_and_garbled_streams_fail_fast():
    """A truncated or bit-flipped entropy stream must raise promptly
    (the bit reader pads 1s after data ends; an all-ones walk falls
    off every canonical table within 16 bits) — a mapInPandas worker
    must never hang on a corrupt corpus blob."""
    good = J.encode_jpeg(np.arange(64, dtype=np.uint8).reshape(8, 8) * 3)
    # Cutting before the SOS segment ends removes the scan header
    # entirely — decode MUST raise, not return garbage.
    sos_at = good.find(b"\xff\xda")
    assert sos_at > 0
    with pytest.raises(ValueError):
        J.decode_jpeg(good[: sos_at + 4])
    # Cuts inside the entropy data: every outcome must be prompt, and
    # raised errors must be ValueError only (never a parser internal).
    for cut in (len(good) - 4, len(good) // 2, sos_at + 16):
        try:
            J.decode_jpeg(good[:cut])
        except ValueError:
            pass  # fail-fast is the contract; success on a clean cut
            # boundary (e.g. only EOI missing) is also acceptable
    with pytest.raises(ValueError):
        J.decode_jpeg(b"\xff\xd8\xff\xe0nonsense without any scan")


def test_corrupt_headers_raise_valueerror():
    """Crafted corrupt headers must surface as ValueError, not parser
    internals: SOS before SOF (was TypeError), a zero sampling factor
    (was ZeroDivisionError), and giant claimed dimensions (was a
    multi-GB allocation before the first entropy bit)."""
    good = J.encode_jpeg(np.full((8, 8), 100, np.uint8))
    sof_at = good.find(b"\xff\xc0")
    sos_at = good.find(b"\xff\xda")
    assert 0 < sof_at < sos_at

    # Drop the SOF segment entirely: SOS arrives with frame=None.
    (sof_len,) = struct.unpack_from(">H", good, sof_at + 2)
    no_sof = good[:sof_at] + good[sof_at + 2 + sof_len :]
    with pytest.raises(ValueError, match="SOS before SOF"):
        J.decode_jpeg(no_sof)

    # Zero out the component sampling factors inside SOF.
    b = bytearray(good)
    b[sof_at + 2 + 2 + 6 + 1] = 0x00  # first component h=0, v=0
    with pytest.raises(ValueError, match="sampling factor"):
        J.decode_jpeg(bytes(b))

    # Claim 65535x65535: must be rejected by the pixel cap, fast.
    b = bytearray(good)
    struct.pack_into(">HH", b, sof_at + 2 + 2 + 1, 65535, 65535)
    with pytest.raises(ValueError, match="safety cap"):
        J.decode_jpeg(bytes(b))


def test_progressive_decodes_identical_to_baseline():
    """decode(SOF2 four-kind scan script) == decode(SOF0) pixel-for-
    pixel: same quantized coefficients reach the IDCT, so any
    deviation is a bug in the multi-scan accumulation (spectral
    selection, successive approximation, EOBRUN, correction bits)."""
    rng = np.random.default_rng(3)
    cases = [
        (rng.integers(0, 256, (13, 20)).astype(np.uint8), {}),
        (rng.integers(0, 256, (16, 24, 3)).astype(np.uint8), {}),
        (rng.integers(0, 256, (21, 19, 3)).astype(np.uint8),
         {"subsampling": (2, 2)}),
        # smooth gradient: many all-zero AC bands -> long EOB runs
        (np.outer(np.linspace(0, 255, 33),
                  np.ones(47)).astype(np.uint8), {}),
        # flat: EVERY AC band empty -> maximal EOBRUN accumulation
        (np.full((40, 56), 200, np.uint8), {}),
    ]
    for img, kw in cases:
        for q in (50, 90):
            base = J.decode_jpeg(J.encode_jpeg(img, quality=q, **kw))
            prog = J.decode_jpeg(
                J.encode_jpeg(img, quality=q, progressive=True, **kw)
            )
            assert base[:3] == prog[:3]
            assert np.array_equal(base[3], prog[3])


def test_progressive_marker_and_scan_count():
    """The progressive stream really is SOF2 with the four-kind scan
    script (2 DC scans + one AC first and one AC refine per
    component), not a re-badged baseline file."""
    gray = J.encode_jpeg(np.full((8, 8), 9, np.uint8), progressive=True)
    rgb = J.encode_jpeg(
        np.zeros((8, 8, 3), np.uint8), progressive=True
    )
    assert gray.find(b"\xff\xc2") > 0 and gray.find(b"\xff\xc0") < 0
    assert gray.count(b"\xff\xda") == 2 + 2 * 1
    assert rgb.count(b"\xff\xda") == 2 + 2 * 3


def test_progressive_refinement_reconstructs_exact_coefficients():
    """A value exercising both correction-bit branches: coefficients
    with magnitude >= 2 (refined via correction bits) and == 1 (newly
    significant in the refinement scan) both land exactly."""
    # high-contrast checkerboard drives large and small AC coefs
    img = np.indices((24, 24)).sum(axis=0) % 2 * 255
    img = img.astype(np.uint8)
    base = J.decode_jpeg(J.encode_jpeg(img, quality=75))
    prog = J.decode_jpeg(J.encode_jpeg(img, quality=75, progressive=True))
    assert np.array_equal(base[3], prog[3])


def test_progressive_truncation_fails_fast():
    """Cutting a progressive stream inside a scan must raise
    ValueError promptly (same fail-fast contract as baseline)."""
    good = J.encode_jpeg(
        np.arange(64, dtype=np.uint8).reshape(8, 8) * 3, progressive=True
    )
    first_sos = good.find(b"\xff\xda")
    with pytest.raises(ValueError):
        J.decode_jpeg(good[: first_sos + 4])
    # mid-entropy cuts: prompt ValueError or a clean partial decode
    for cut in (len(good) // 2, first_sos + 20):
        try:
            J.decode_jpeg(good[:cut])
        except ValueError:
            pass


def test_extract_image_features_over_progressive_payloads(spark):
    """Progressive JPEG binaries flow through the same default-decoder
    Spark path as baseline."""
    import pandas as pd

    from financial_data_ingestion_pipeline_spark.functions.multimodal import (
        extract_image_features,
    )
    from financial_data_ingestion_pipeline_spark.session import (
        ensure_runtime_conf,
    )

    ensure_runtime_conf(spark)
    rows = [
        (i, J.encode_jpeg(np.full((12, 8 + i), val, np.uint8),
                          quality=90, progressive=True))
        for i, val in enumerate((30, 150))
    ]
    media = spark.createDataFrame(
        pd.DataFrame(rows, columns=["media_id", "content"])
    )
    got = {
        r.media_id: (r.width, r.height, round(r.mean_byte))
        for r in extract_image_features(media).collect()
    }
    assert got == {0: (8, 12, 30), 1: (9, 12, 150)}


def test_progressive_oracle_constants_pinned():
    """The contract oracle's PROGRESSIVE_FEATURE_TRUTH literals were
    precomputed ONCE and checked into the oracle source (so a decoder
    bug cannot leak into its own oracle); this asserts a fresh local
    encode+decode still reproduces them — codec drift fails HERE,
    loudly, instead of silently re-pinning the contract truth."""
    import importlib

    se = importlib.import_module("__spark_entry__")
    fresh = []
    for mid, buf in se._progressive_media_rows():
        from financial_data_ingestion_pipeline_spark.functions.multimodal import (
            _default_decode,
        )

        w, h, body = _default_decode(buf)
        mean = float(sum(body)) / len(body) if body else 0.0
        fresh.append((mid, w, h, len(buf), mean))
    assert fresh == se.PROGRESSIVE_FEATURE_TRUTH


FIXTURE_DIR = os.path.join(
    os.path.dirname(__file__), "fixtures", "codec_conformance"
)

# re-encode parameters for the ours_* fixtures (pins encoder stability:
# re-encoding the committed original must reproduce the committed bytes)
_OURS_ENCODE_PARAMS = {
    "jpeg_ours_gray_baseline": dict(quality=90),
    "jpeg_ours_gray_progressive": dict(quality=90, progressive=True),
    "jpeg_ours_rgb444": dict(quality=95, subsampling=(1, 1)),
    "jpeg_ours_rgb420_flatchroma_progressive": dict(
        quality=90, progressive=True, subsampling=(2, 2)),
}


def test_jpeg_conformance_vs_independent_codec():
    """Committed conformance vectors made with javax.imageio (the
    JVM's own from-scratch JPEG plugin — no shared lineage with this
    codec; scripts/make_codec_conformance.py): our decoder must
    reproduce the independent decoder's pixels within the standard's
    rounding tolerance on BOTH independently-encoded streams and our
    own encoder's streams, and re-encoding the pinned originals must
    reproduce the committed bytes exactly.  4:2:0 vectors use constant
    chroma so the upsampling-filter choice (box vs triangle, both
    conforming) cannot affect the comparison."""
    import glob as _glob

    paths = sorted(_glob.glob(os.path.join(FIXTURE_DIR, "jpeg_*.npz")))
    assert len(paths) >= 7, "conformance fixtures missing"
    for path in paths:
        name = os.path.splitext(os.path.basename(path))[0]
        d = np.load(path)
        stream = d["stream"].tobytes()
        expected = d["expected"]
        tol = int(d["tol"])
        w, h, nc, px = J.decode_jpeg(stream)
        assert px.shape == expected.shape, name
        diff = np.abs(px.astype(np.int64) - expected.astype(np.int64))
        assert diff.max() <= tol, f"{name}: max diff {diff.max()} > {tol}"
        if name in _OURS_ENCODE_PARAMS:
            again = J.encode_jpeg(d["original"], **_OURS_ENCODE_PARAMS[name])
            assert again == stream, f"{name}: encoder bytes drifted"


def test_decode_survives_single_byte_mutations():
    """Robustness fuzz over the malformed-input contract: ANY
    single-byte mutation of a valid stream must either decode (the
    mutation hit entropy data the decoder tolerates) or raise
    ValueError — never leak IndexError/KeyError/struct.error, never
    allocate past the pixel cap (a mapInPandas worker routes
    ValueError to a quarantine column; anything else kills the task).
    Deterministic sweep: every position, three XOR patterns."""
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (11, 14)).astype(np.uint8)
    good = J.encode_jpeg(img, quality=85)
    for pos in range(len(good)):
        for flip in (0x01, 0x80, 0xFF):
            b = bytearray(good)
            b[pos] ^= flip
            try:
                J.decode_jpeg(bytes(b))
            except ValueError:
                pass  # the typed contract error


def test_cap_sized_decode_fits_worker_rss_budget(spark):
    """The OOM class behind the pixel cap (round-8 ADVICE #5 / round-9
    verdict task #6): a 3-component image at the LARGEST size the cap
    admits (4096x5208x3 = 63,995,904 <= MAX_DECODE_PIXELS) must decode
    inside a mapInPandas worker under a measured RSS budget.  The
    budget pins the cap's real meaning: ~55 bytes of transient working
    set per component-pixel (int64 coefficient + float64 IDCT stage
    copies; measured 3.3 GiB peak on a cap-sized decode), so executor
    sizing can trust MAX_DECODE_PIXELS * 55B as the per-image decode
    envelope.  A smooth gradient keeps the Huffman stream small (the
    entropy path's cost scales with bits, the MEMORY envelope with
    pixels — which is what this test measures)."""
    import pandas as pd

    w, h = 4096, 5208
    assert w * h * 3 <= J.MAX_DECODE_PIXELS
    assert (w * (h + 1)) * 3 > J.MAX_DECODE_PIXELS  # largest admissible
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [(xx % 256), (yy % 256), ((xx + yy) % 256)], -1
    ).astype(np.uint8)
    buf = J.encode_jpeg(img, quality=60)
    del img, yy, xx

    def decode_with_rss(batches):
        # The decode runs in a DEDICATED subprocess forked from the
        # Spark python worker: with spark.python.worker.reuse (default
        # true) the worker's own ru_maxrss is a lifetime high-water
        # mark inflated by whatever earlier tasks ran in the reused
        # process, making an in-worker reading order-dependent
        # (round-10 ADVICE #2).  A fresh child's RUSAGE_SELF is
        # exactly the decode envelope the budget pins, while the
        # plumbing under test — cap-sized payload through mapInPandas,
        # Arrow batch in, typed row out — still runs in the worker.
        import os
        import subprocess
        import sys
        import tempfile

        import financial_data_ingestion_pipeline_spark as pkg

        repo_dir = os.path.dirname(os.path.dirname(pkg.__file__))

        child_src = (
            "import resource, sys\n"
            "sys.path.insert(0, sys.argv[4])\n"
            "from financial_data_ingestion_pipeline_spark.functions"
            " import jpeg_codec\n"
            "blob = open(sys.argv[1], 'rb').read()\n"
            "ww, hh, nc, arr = jpeg_codec.decode_jpeg(blob)\n"
            "peak_mb = resource.getrusage(resource.RUSAGE_SELF)"
            ".ru_maxrss // 1024\n"
            "print(ww, hh, nc, int(arr[int(sys.argv[2]),"
            " int(sys.argv[3]), 0]), peak_mb)\n"
        )
        for pdf in batches:
            out = []
            for blob in pdf["content"]:
                with tempfile.NamedTemporaryFile(suffix=".jpg") as tf:
                    tf.write(bytes(blob))
                    tf.flush()
                    proc = subprocess.run(
                        [sys.executable, "-c", child_src, tf.name,
                         str(h // 2), str(w // 2), repo_dir],
                        capture_output=True, text=True, check=True,
                    )
                ww, hh, nc, probe, peak_mb = (
                    int(v) for v in proc.stdout.split()
                )
                out.append((ww, hh, nc, probe, peak_mb))
            yield pd.DataFrame(
                out, columns=["w", "h", "nc", "probe", "peak_mb"]
            )

    media = spark.createDataFrame(
        pd.DataFrame({"content": [buf]})
    )
    row = media.mapInPandas(
        decode_with_rss,
        "w int, h int, nc int, probe int, peak_mb long",
    ).head()
    assert (row.w, row.h, row.nc) == (w, h, 3)
    # the gradient's DC-quantized center pixel: just assert plausible
    # reconstruction, exactness is the conformance suite's job
    assert 0 <= row.probe <= 255
    # budget: measured 3373 MB peak + headroom for the worker baseline
    # and allocator variance; a regression past 4.5 GiB means a new
    # full-image stage copy slipped into the decode path
    assert row.peak_mb < 4608, f"decode peak RSS {row.peak_mb} MB"
