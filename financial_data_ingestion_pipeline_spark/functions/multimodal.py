"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched Pandas
functions over ``mapInPandas``.

Images are REAL: the default decoder recognizes genuine PNG payloads
(pure-Python codec, :mod:`.png_codec` — zlib scanlines, all five
filters, gray/RGB/alpha) AND baseline JPEG payloads (pure-numpy
codec, :mod:`.jpeg_codec` — Huffman, dequantize, IDCT, 4:2:0
upsampling, restart markers), falling back to the deterministic fake
byte model for test fixtures.  Features, perceptual hashes, and
resizes therefore run decode → integer-luma → math on actual encoded
images with no external library.  Only exotic JPEG coding processes
(lossless/hierarchical/arithmetic — baseline and progressive decode
natively) and video/audio codecs (Pillow, torchaudio,
ffmpeg) still need a real library, dropped into the same
``set_image_decoder`` seam — return ``(w, h, luma_bytes)`` and every
downstream operator follows.

Scale notes: binary payloads ride in Arrow record batches (zero-copy
into pandas); decode parallelism is the scan's partitioning, so sizing
``spark.sql.files.maxPartitionBytes`` controls batch memory.  Feature
extraction emits narrow rows, so the expensive bytes never shuffle —
filter/project before any join.
"""

from __future__ import annotations

import struct
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("mean_byte", T.DoubleType()),
    ]
)

FRAME_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("frame_bytes", T.BinaryType()),
    ]
)


def fake_image_bytes(media_id: int, width: int, height: int) -> bytes:
    """Deterministic fake 'image': 8-byte header (two uint32 LE dims)
    plus a payload derived from the id.  Stands in for PNG/JPEG in
    tests so the plumbing is exercised with real bytes."""
    header = struct.pack("<II", width, height)
    payload = bytes((media_id * 31 + i) % 256 for i in range(width * height % 4096))
    return header + payload


def _stub_decode(buf: bytes) -> tuple[int, int, bytes]:
    """Parse the fake-model header: two LE uint32 dims + a luma
    payload.  Returns ``(w, h, luma_bytes)`` like every decoder."""
    if buf is None or len(buf) < 8:
        raise NotImplementedError(
            "unrecognized image payload: not PNG and lacks the "
            "fake-decoder header (JPEG et al. need an external codec "
            "via set_image_decoder)"
        )
    w, h = struct.unpack_from("<II", buf, 0)
    return int(w), int(h), buf[8:]


def _default_decode(buf: bytes) -> tuple[int, int, bytes]:
    """Default decoder: REAL PNG and baseline JPEG payloads
    (magic-sniffed) through the pure-Python codecs with integer
    BT.601 luma; anything else through the fake-model header parser.
    Either way the contract is ``(width, height, luma_bytes)`` — dims
    plus the flat grayscale plane every downstream feature/hash
    operator consumes.  Only the JPEG coding processes the pure
    codec rejects (lossless / hierarchical / arithmetic entropy
    coding) still need an external codec via
    :func:`set_image_decoder`; baseline AND progressive Huffman
    streams decode natively.  Round-10 decision: arithmetic-coded
    decode (T.81 Annex D — the QM-coder state machine plus per-mode
    conditioning) stays external; it is rare in the wild (libjpeg
    shipped patent-disabled for decades), not cheap to implement
    bit-exactly, and the typed ValueError routes such blobs to
    quarantine rather than killing a worker.  The cap-sized decode's
    worker RSS budget is pinned by test_jpeg.py (~55 B/component-
    pixel, asserted < 4.5 GiB in a mapInPandas worker)."""
    from financial_data_ingestion_pipeline_spark.functions import (
        jpeg_codec,
        png_codec,
    )

    buf = bytes(buf) if buf is not None else b""
    if buf[:8] == png_codec.PNG_MAGIC:
        w, h, _ch, px = png_codec.decode_png(buf)
        return w, h, png_codec.luma(px).tobytes()
    if buf[:3] == jpeg_codec.JPEG_MAGIC:
        w, h, nc, px = jpeg_codec.decode_jpeg(buf)
        if nc == 1:
            return w, h, px.tobytes()
        return w, h, png_codec.luma(px).tobytes()
    return _stub_decode(buf)


_image_decoder: Callable[[bytes], tuple[int, int, bytes]] = _default_decode


def set_image_decoder(fn: Callable[[bytes], tuple[int, int, bytes]]) -> None:
    """Install a replacement codec (e.g. Pillow JPEG): it receives the
    raw payload and must return ``(width, height, luma_bytes)``."""
    global _image_decoder
    _image_decoder = fn


def extract_image_features(
    media: DataFrame, id_col: str = "media_id", content_col: str = "content"
) -> DataFrame:
    """Decode + feature-extract over Arrow batches (``mapInPandas``).

    Emits one narrow feature row per media row; the binary column is
    dropped before anything downstream can shuffle it.
    """
    id_name, content_name = id_col, content_col

    decoder = _image_decoder  # captured NOW: ships to executors by
    # value in the closure, so set_image_decoder() works distributed

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, widths, heights, sizes, means = [], [], [], [], []
            for mid, buf in zip(pdf[id_name], pdf[content_name]):
                buf = bytes(buf)
                w, h, body = decoder(buf)
                ids.append(int(mid))
                widths.append(w)
                heights.append(h)
                sizes.append(len(buf))
                means.append(float(sum(body)) / len(body) if body else 0.0)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "width": pd.Series(widths, dtype="int32"),
                    "height": pd.Series(heights, dtype="int32"),
                    "n_bytes": pd.Series(sizes, dtype="int64"),
                    "mean_byte": pd.Series(means, dtype="float64"),
                }
            )

    return media.select(id_col, content_col).mapInPandas(process, IMAGE_FEATURES_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
    ]
)


def _decode_audio(buf: bytes):
    """Audio decode seam: REAL RIFF/WAVE payloads through the stdlib
    ``wave`` codec (8-bit unsigned / 16-bit signed PCM), anything else
    as raw 8-bit unsigned mono PCM (the fake test model).  Returns
    ``(int64 samples centered at 0, full-scale divisor)`` — one value
    per FRAME: multi-channel WAV is mixed down by summing channels and
    scaling the divisor by the channel count, which keeps the math in
    exact integers (fingerprint energies replay bit-for-bit) and makes
    ``n_samples`` mean frame count, not interleaved-sample count.
    """
    import numpy as np

    if buf[:4] == b"RIFF" and buf[8:12] == b"WAVE":
        import io
        import wave

        with wave.open(io.BytesIO(buf)) as wf:
            raw = wf.readframes(wf.getnframes())
            width = wf.getsampwidth()
            nch = wf.getnchannels()
        if width == 2:
            ints = np.frombuffer(raw, dtype="<i2").astype(np.int64)
            scale = 32768
        elif width == 1:
            ints = np.frombuffer(raw, dtype=np.uint8).astype(np.int64) - 128
            scale = 128
        else:
            raise ValueError(f"unsupported WAV sample width {width}")
        if nch > 1:
            ints = ints[: (len(ints) // nch) * nch]
            ints = ints.reshape(-1, nch).sum(axis=1)
            scale *= nch
        return ints, scale
    return np.frombuffer(buf, dtype=np.uint8).astype(np.int64) - 128, 128


def extract_audio_features(
    media: DataFrame, id_col: str = "media_id", content_col: str = "content"
) -> DataFrame:
    """Audio decode + features over real Spark plumbing: RIFF/WAVE
    payloads decode for real (stdlib codec via :func:`_decode_audio`);
    bare payloads are 8-bit unsigned PCM (the deterministic test
    model).  Emits per-clip sample count, RMS and peak amplitude; the
    binary never leaves the map stage."""

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, counts, rms, peak = [], [], [], []
            for mid, buf in zip(pdf[id_col], pdf[content_col]):
                ints, scale = _decode_audio(bytes(buf))
                samples = ints.astype(np.float64) / scale  # -> [-1, 1)
                ids.append(int(mid))
                counts.append(len(samples))
                # rms is rounded to 6 dp: numpy's pairwise summation and
                # an external engine's sequential fold agree to ~1e-13,
                # so the rounded value is engine-portable (oracle
                # contract).  peak needs no rounding — |(v-128)/128| and
                # max() are exact in binary, identical in any engine.
                rms.append(round(float(np.sqrt((samples**2).mean())), 6) if len(samples) else 0.0)
                peak.append(float(np.abs(samples).max()) if len(samples) else 0.0)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "n_samples": pd.Series(counts, dtype="int64"),
                    "rms": pd.Series(rms, dtype="float64"),
                    "peak": pd.Series(peak, dtype="float64"),
                }
            )

    return media.select(id_col, content_col).mapInPandas(process, AUDIO_FEATURES_SCHEMA)


def resize_images(
    media: DataFrame,
    target_w: int = 32,
    target_h: int = 32,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """Image resize: 1 binary row in, 1 (smaller) binary row out via
    ``mapInPandas``.

    REAL path — PNG payloads decode through :mod:`.png_codec`, get a
    genuine 2-D nearest-neighbor resample of the luma grid
    (``out[y, x] = in[(y*h_in)//h_out, (x*w_in)//w_out]``) and
    re-encode as a grayscale PNG of the target dims, so the output is
    itself a decodable image.

    Fake-model path — the payload is not a pixel grid (its length is
    ``w*h % 4096`` by construction), so the resize is the 1-D analog
    of the same index arithmetic over the byte stream, deterministic
    and oracle-replayable.  Output carries the new dims + payload so
    downstream feature extraction runs unchanged.
    """
    import numpy as np

    from financial_data_ingestion_pipeline_spark.functions import png_codec

    new_len = (target_w * target_h) % 4096

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, outs = [], []
            for mid, buf in zip(pdf[id_col], pdf[content_col]):
                buf = bytes(buf)
                if buf[:8] == png_codec.PNG_MAGIC:
                    w, h, _ch, px = png_codec.decode_png(buf)
                    grid = png_codec.luma(px).reshape(h, w)
                    ys = (np.arange(target_h) * h) // target_h
                    xs = (np.arange(target_w) * w) // target_w
                    ids.append(int(mid))
                    outs.append(png_codec.encode_png(grid[np.ix_(ys, xs)]))
                    continue
                body = buf[8:]
                if body and new_len:
                    resampled = bytes(
                        body[(i * len(body)) // new_len] for i in range(new_len)
                    )
                else:
                    resampled = b""
                ids.append(int(mid))
                outs.append(struct.pack("<II", target_w, target_h) + resampled)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "content": pd.Series(outs, dtype="object"),
                }
            )

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    return media.select(id_col, content_col).mapInPandas(process, schema)


def sample_frames(
    media: DataFrame,
    every_n_bytes: int = 1024,
    max_frames: int = 8,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """'Video' frame sampling stub: slice the payload into fixed-size
    chunks and emit every chunk up to ``max_frames`` (a real ffmpeg
    sampler has the same (1 row in, N rows out) mapInPandas shape)."""
    id_name, content_name = id_col, content_col

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids, out_idx, out_bytes = [], [], []
            for mid, buf in zip(pdf[id_name], pdf[content_name]):
                buf = bytes(buf)
                for fi in range(min(max_frames, max(1, len(buf) // every_n_bytes))):
                    out_ids.append(int(mid))
                    out_idx.append(fi)
                    out_bytes.append(buf[fi * every_n_bytes : (fi + 1) * every_n_bytes])
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(out_ids, dtype="int64"),
                    "frame_index": pd.Series(out_idx, dtype="int32"),
                    "frame_bytes": pd.Series(out_bytes, dtype="object"),
                }
            )

    return media.select(id_col, content_col).mapInPandas(process, FRAME_SAMPLE_SCHEMA)


def synthesize_media_table(
    spark, n: int = 64, media_type: str = "image"
) -> DataFrame:
    """Deterministic fake media table for tests/demos (binary content +
    typed metadata), built distributed via ``spark.range`` — no driver
    materialization."""
    # few fat partitions: each partition costs a Python worker round-trip
    # in the two pandas stages, so 32 near-empty partitions would spend
    # more on worker startup than on work
    base = spark.range(0, n, 1, numPartitions=max(1, min(8, n // 8))).select(
        F.col("id").alias("media_id"),
        (F.col("id") % 16 + 1).cast("int").alias("w16"),
        (F.col("id") % 9 + 1).cast("int").alias("h9"),
    )

    @F.pandas_udf(T.BinaryType())
    def make_bytes(mid: pd.Series, w: pd.Series, h: pd.Series) -> pd.Series:
        return pd.Series(
            [fake_image_bytes(int(m), int(a) * 8, int(b) * 8) for m, a, b in zip(mid, w, h)],
            dtype="object",
        )

    return base.select(
        "media_id",
        make_bytes("media_id", "w16", "h9").alias("content"),
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit("fake").alias("format"),
            (F.col("w16") * 8).alias("width"),
            (F.col("h9") * 8).alias("height"),
            F.lit(0).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


IMAGE_PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("plen", T.LongType()),
        T.StructField("phash", T.LongType()),
        T.StructField("n_ones", T.IntegerType()),
    ]
)


def image_phash(
    media: DataFrame,
    n_cells: int = 60,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """Perceptual average-hash over decoded image bytes — the visual
    near-duplicate signature a multimodal training pipeline computes
    at ingest (aHash family; swap the stub decoder for a real one and
    the same cell/bit logic applies to downsampled luma).

    Per image: the payload is split into ``n_cells`` contiguous cells
    (cell of byte ``j`` = ``j*n_cells // plen``), and bit ``c`` is set
    iff that cell's byte mean exceeds the global mean.  The compare is
    cross-multiplied in integers (``cell_sum * plen > total * cell_n``)
    so no float mean ever exists — an external engine reproduces the
    hash bit-for-bit.  60 bits keeps the hash in a signed BIGINT.

    Pairs: feed the result straight into
    :func:`~..functions.dedup.simhash_pairs` (``sig_col="phash"``) —
    the chunk-pigeonhole join finds all pairs within a hamming radius
    with no cross join, same as text SimHash.

    Scale: one mapInPandas pass over the Arrow batches; the binary
    never shuffles; output is 4 narrow columns per image.
    """
    import numpy as np

    id_name, content_name = id_col, content_col

    decoder = _image_decoder  # captured at construction (see
    # extract_image_features): driver-installed codecs reach executors

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, plens, hashes, ones = [], [], [], []
            for mid, buf in zip(pdf[id_name], pdf[content_name]):
                buf = bytes(buf)
                _w, _h, lum = decoder(buf)
                body = np.frombuffer(lum, dtype=np.uint8).astype(np.int64)
                plen = len(body)
                if plen == 0:
                    h, n1 = 0, 0
                else:
                    cells = (np.arange(plen) * n_cells) // plen
                    sums = np.zeros(n_cells, dtype=np.int64)
                    np.add.at(sums, cells, body)
                    counts = np.bincount(cells, minlength=n_cells).astype(
                        np.int64
                    )
                    total = int(body.sum())
                    bits = sums * plen > total * counts
                    h = 0
                    for c in np.nonzero(bits)[0]:
                        h |= 1 << int(c)
                    n1 = int(bits.sum())
                ids.append(int(mid))
                plens.append(plen)
                hashes.append(h)
                ones.append(n1)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "plen": pd.Series(plens, dtype="int64"),
                    "phash": pd.Series(hashes, dtype="int64"),
                    "n_ones": pd.Series(ones, dtype="int32"),
                }
            )

    return media.select(id_col, content_col).mapInPandas(
        process, IMAGE_PHASH_SCHEMA
    )


AUDIO_FP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("fingerprint", T.LongType()),
        T.StructField("n_ones", T.IntegerType()),
    ]
)


def audio_fingerprint(
    media: DataFrame,
    n_cells: int = 61,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """Acoustic fingerprint over decoded PCM — the energy-delta-sign
    family (Shazam/Chromaprint's core idea reduced to one band): split
    the clip into ``n_cells`` windows, and bit ``c`` records whether
    window ``c+1`` carries more energy than window ``c``.  Energy is
    an INTEGER sum of squared deviations from the u8 midpoint, so the
    61-window / 60-bit fingerprint is exact and engine-replayable —
    no float RMS ever exists.

    Near-duplicate clips (re-encodes, trims of silence-padded media)
    land within a small hamming radius; feed the output through
    ``dedup.simhash_pairs`` (``sig_col="fingerprint"``) for pair
    discovery — text SimHash, image aHash, and audio prints all share
    ONE pairing machinery.

    Same mapInPandas shape as the other decoders: Arrow batches in,
    narrow rows out, bytes never shuffle.
    """
    import numpy as np

    id_name, content_name = id_col, content_col

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, counts, fps, ones = [], [], [], []
            for mid, buf in zip(pdf[id_name], pdf[content_name]):
                samples, _scale = _decode_audio(bytes(buf))
                n = len(samples)
                dev = samples**2
                cells = (np.arange(n) * n_cells) // max(n, 1)
                energy = np.zeros(n_cells, dtype=np.int64)
                np.add.at(energy, cells, dev)
                bits = energy[1:] > energy[:-1]
                fp = 0
                for c in np.nonzero(bits)[0]:
                    fp |= 1 << int(c)
                ids.append(int(mid))
                counts.append(n)
                fps.append(fp)
                ones.append(int(bits.sum()))
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "n_samples": pd.Series(counts, dtype="int64"),
                    "fingerprint": pd.Series(fps, dtype="int64"),
                    "n_ones": pd.Series(ones, dtype="int32"),
                }
            )

    return media.select(id_col, content_col).mapInPandas(
        process, AUDIO_FP_SCHEMA
    )


SCENE_CUTS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("n_cuts", T.IntegerType()),
        T.StructField("first_cut", T.LongType()),
    ]
)


def scene_cuts(
    media: DataFrame,
    every_n_bytes: int = 256,
    max_frames: int = 4,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """Scene-cut detection over sampled 'video' frames: a cut at frame
    ``f`` when the frame-energy change exceeds 25% of the previous
    frame's energy.  Energies are INTEGER sums of squared deviations
    and the threshold is cross-multiplied (``4*|delta| > e_prev``) —
    no float ratio, so the cut set replays exactly in any engine.
    A real decoder swaps per-frame byte energy for luma histograms;
    the comparison logic and the (1 clip in, stats out) shape stay.

    The frame lag runs INSIDE the per-clip loop — a clip's frames
    never leave their mapInPandas batch, so there is no window
    shuffle at all; output is one narrow row per clip.

    Output: ``media_id, n_frames, n_cuts, first_cut`` (−1 if none).
    """
    import numpy as np

    id_name, content_name = id_col, content_col

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nf, nc, fc = [], [], [], []
            for mid, buf in zip(pdf[id_name], pdf[content_name]):
                buf = bytes(buf)
                n_frames = min(max_frames, max(1, len(buf) // every_n_bytes))
                energies = []
                for fi in range(n_frames):
                    fb = np.frombuffer(
                        buf[fi * every_n_bytes : (fi + 1) * every_n_bytes],
                        dtype=np.uint8,
                    ).astype(np.int64)
                    energies.append(int(((fb - 128) ** 2).sum()))
                cuts = [
                    f
                    for f in range(1, n_frames)
                    if 4 * abs(energies[f] - energies[f - 1]) > energies[f - 1]
                ]
                ids.append(int(mid))
                nf.append(n_frames)
                nc.append(len(cuts))
                fc.append(cuts[0] if cuts else -1)
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "n_frames": pd.Series(nf, dtype="int32"),
                    "n_cuts": pd.Series(nc, dtype="int32"),
                    "first_cut": pd.Series(fc, dtype="int64"),
                }
            )

    return media.select(id_col, content_col).mapInPandas(
        process, SCENE_CUTS_SCHEMA
    )
