"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata.

The Spark-side contract is real and tested — schema, Arrow batch shape,
mapInPandas partitioning, metadata propagation. IMAGE decode and resize
are REAL: Pillow when importable, else the bundled pure-stdlib PNG
codec (functions/png_lite — 8-bit gray/RGB/RGBA, all row filters), so
``codec='real'`` executes even in this library-free container for PNG
payloads. VIDEO frame-sampling is likewise REAL for uncompressed
YUV4MPEG2 payloads via the bundled pure-stdlib parser
(functions/y4m_lite); compressed codecs (H.264/VP9) would need
ffmpeg/PyAV and raise. ``codec='fake'`` stays as the deterministic
payload-hash pseudo-codec for tests and benchmarks over arbitrary
payloads.

Design notes for 100 TB of media:
- binary payloads ride in parquet/Iceberg BINARY columns; Spark never
  materializes them except inside the Arrow batches of the decode stage;
- decode is mapInPandas (iterator form): per-partition batch streaming,
  no per-row Python, bounded memory via arrow.maxRecordsPerBatch —
  lower it for large payloads;
- decoded features (dims, frames, embeddings) are small typed columns;
  downstream stages prune the binary away (column pruning does this
  automatically once the select drops it).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META = T.StructType([
    T.StructField("media_type", T.StringType()),     # image|audio|video
    T.StructField("format", T.StringType()),         # png|jpg|wav|mp4|...
    T.StructField("size_bytes", T.LongType()),
])

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.StringType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("meta", MEDIA_META),
])

IMAGE_FEATURES = T.StructType([
    T.StructField("media_id", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("mean_luma", T.DoubleType()),
])


def synth_media(spark, n_rows: int, seed: int = 42) -> DataFrame:
    """Deterministic fake media table (payload = hash-derived bytes)."""
    df = spark.range(n_rows)
    payload = F.sha2(F.concat(F.lit(seed), F.col("id")), 256).cast("binary")
    fmt = F.element_at(
        F.array(F.lit("png"), F.lit("jpg"), F.lit("webp")),
        (F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(3)) + 1).cast("int"),
    )
    return df.select(
        F.format_string("m-%09d", F.col("id")).alias("media_id"),
        payload.alias("payload"),
        F.struct(
            F.lit("image").alias("media_type"),
            fmt.alias("format"),
            F.length(payload).cast("long").alias("size_bytes"),
        ).alias("meta"),
    )


def _decode_fake(payload: bytes) -> tuple[int, int, int, float]:
    """Deterministic pseudo-decode: dims/luma from a digest of the
    payload. Replace with a real decoder (PIL.Image.open etc.)."""
    d = hashlib.sha256(payload).digest()
    width = 64 + d[0] * 4
    height = 64 + d[1] * 4
    channels = 3 if d[2] % 4 else 1
    mean_luma = round(d[3] / 255.0, 6)
    return width, height, channels, mean_luma


def decode_images(df: DataFrame, codec: str = "real") -> DataFrame:
    """payload → typed image features via mapInPandas (iterator of
    Arrow batches; constant memory per partition)."""
    if codec not in ("real", "fake"):
        raise ValueError("codec must be 'real' or 'fake'")

    def _decode_real(payload: bytes) -> tuple[int, int, int, float]:
        # Pillow when importable (any format it knows); else the
        # bundled pure-stdlib PNG codec. Both paths feed the SAME
        # numpy luma formula (png_lite.mean_luma, float ITU-R 601-2),
        # so the output values are environment-independent for images
        # both can decode (8-bit PNG); Pillow merely widens format
        # coverage.
        from lumbermill_spark.functions import png_lite

        arr, channels = _to_array(payload)
        return (arr.shape[1], arr.shape[0], channels,
                round(png_lite.mean_luma(arr), 6))

    decode_one = _decode_real if codec == "real" else _decode_fake

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode_one(bytes(p)) if p is not None
                     else (None, None, None, None)
                     for p in pdf["payload"]]
            out = pd.DataFrame(
                feats, columns=["width", "height", "channels", "mean_luma"]
            )
            out.insert(0, "media_id", pdf["media_id"].values)
            yield out

    return df.mapInPandas(run, IMAGE_FEATURES)


def _to_array(payload: bytes):
    """payload → (uint8 numpy array, original channel count), via
    Pillow when importable else png_lite. Exotic Pillow modes are
    normalized to RGB so both paths agree on 8-bit content."""
    import io

    import numpy as np

    from lumbermill_spark.functions import png_lite

    try:
        from PIL import Image
    except ImportError:
        arr = png_lite.decode_png(payload)  # ValueError if not PNG
        return arr, (1 if arr.ndim == 2 else arr.shape[2])
    img = Image.open(io.BytesIO(payload))
    channels = len(img.getbands())
    if img.mode == "P":
        # match png_lite: palette expands to RGB, channels = palette's
        img = img.convert("RGB")
        channels = 3
    elif img.mode not in ("L", "LA", "RGB", "RGBA"):
        img = img.convert("RGB")
    return np.asarray(img, dtype=np.uint8), channels


def resize(df: DataFrame, width: int, height: int,
           codec: str = "real") -> DataFrame:
    """Image resize: binary in → binary out, same partitioning.

    codec='real': decode (Pillow when importable, else the bundled PNG
    codec), resample with png_lite's floor-nearest kernel, re-encode
    with png_lite — the OUTPUT BYTES are identical whether or not
    Pillow is installed (Pillow only widens input-format coverage;
    PIL's own NEAREST is center-aligned and would differ, so it is
    deliberately not used). Null payloads pass through as null.
    codec='fake' passes the payload through and annotates target dims
    (for non-image payload plumbing tests)."""
    out_schema = T.StructType([
        T.StructField("media_id", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ])
    if codec not in ("real", "fake"):
        raise ValueError("codec must be 'real' or 'fake'")

    def _resize_real(payload: bytes) -> bytes:
        from lumbermill_spark.functions import png_lite

        arr, _ = _to_array(payload)
        return png_lite.encode_png(
            png_lite.resize_nearest(arr, width, height))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = (pdf["payload"]
                        if codec == "fake"
                        else [_resize_real(bytes(p)) if p is not None
                              else None
                              for p in pdf["payload"]])
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "payload": payloads,
                "width": width,
                "height": height,
            })

    return df.mapInPandas(run, out_schema)


def frame_sample(df: DataFrame, every_n: int = 30,
                 codec: str = "real") -> DataFrame:
    """Video frame-sampling (1→N rows per video), mapInPandas.

    codec='real' is REAL for YUV4MPEG2 payloads via the bundled
    pure-stdlib parser (functions/y4m_lite): frames whose index is a
    multiple of ``every_n`` are extracted and each sampled frame's luma
    plane is re-encoded as a grayscale PNG (png_lite), so downstream
    image stages (decode_images, resize) consume sampled frames
    unchanged. Y4M is raw planar video — no codec library needed —
    which is what makes this path executable in this container;
    compressed containers (H.264/VP9) need ffmpeg/PyAV and raise a
    Y4MError here. Null payloads produce no rows (1→0).

    codec='fake' keeps the deterministic pseudo-codec for non-video
    payload plumbing tests: frame count = size_bytes % 5 + 1, payload
    passed through.
    """
    out_schema = T.StructType([
        T.StructField("media_id", T.StringType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
    ])
    if codec not in ("real", "fake"):
        raise ValueError("codec must be 'real' or 'fake'")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from lumbermill_spark.functions import png_lite, y4m_lite

        for pdf in batches:
            rows = {"media_id": [], "frame_idx": [], "payload": []}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                if p is None:
                    continue
                p = bytes(p)
                if codec == "fake":
                    n = len(p) % 5 + 1
                    for i in range(n):
                        rows["media_id"].append(mid)
                        rows["frame_idx"].append(i * every_n)
                        rows["payload"].append(p)
                    continue
                for idx, planes in y4m_lite.iter_frames(p):
                    if idx % every_n:
                        continue
                    rows["media_id"].append(mid)
                    rows["frame_idx"].append(idx)
                    rows["payload"].append(png_lite.encode_png(planes[0]))
            yield pd.DataFrame(rows)

    return df.mapInPandas(run, out_schema)


AHASH_SCHEMA = T.StructType([
    T.StructField("media_id", T.StringType()),
    T.StructField("ahash", T.StringType()),
    T.StructField("n_on", T.IntegerType()),
])


def ahash(df: DataFrame, hash_size: int = 8) -> DataFrame:
    """Average perceptual hash (aHash) — the classic near-duplicate
    image fingerprint: decode, grayscale (channel mean), floor-nearest
    sample down to ``hash_size``² pixels (the same kernel as
    png_lite.resize_nearest: source index = (i * dim) // hash_size),
    threshold each sample at the sample mean (strict >, ties off), and
    pack the bits row-major into a hex string. Visually identical or
    lightly re-encoded images collide; an exact groupBy on ``ahash``
    is the perceptual-dedup bucket (and Hamming distance over the hex
    works for near-dup pairing, same banding machinery as simhash).

    The sample mean is an exact float64 (integer sum / power of two),
    so the bit pattern replays bit-identically in any engine.
    mapInPandas iterator — bounded memory, no shuffle.
    """
    import numpy as np

    nibbles = hash_size * hash_size // 4

    def _one(payload: bytes) -> tuple[str, int]:
        arr, _ = _to_array(payload)
        a = arr.astype(np.float64)
        if a.ndim == 3:
            a = a.mean(axis=2)
        h, w = a.shape
        rows = (np.arange(hash_size) * h) // hash_size
        cols = (np.arange(hash_size) * w) // hash_size
        small = a[np.ix_(rows, cols)]
        bits = (small > small.mean()).astype(np.uint8).ravel()
        val = 0
        for b in bits:
            val = (val << 1) | int(b)
        return format(val, f"0{nibbles}x"), int(bits.sum())

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashed = [_one(bytes(p)) if p is not None else (None, None)
                      for p in pdf["payload"]]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "ahash": [h for h, _ in hashed],
                "n_on": [n for _, n in hashed],
            })

    return df.mapInPandas(run, AHASH_SCHEMA)


AUDIO_FEATURES = T.StructType([
    T.StructField("media_id", T.StringType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("duration_ms", T.LongType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("peak", T.IntegerType()),
    T.StructField("zero_cross", T.LongType()),
])


def decode_audio(df: DataFrame) -> DataFrame:
    """payload (RIFF/WAVE PCM16 bytes) → typed audio features via
    mapInPandas — the audio leg of the multimodal suite (image:
    :func:`decode_images`, video: :func:`sample_frames`). REAL codec,
    zero stubs: the bundled pure-stdlib parser
    (:mod:`lumbermill_spark.functions.wav_lite`) decodes the supported
    PCM16 subset in any runtime; unsupported payloads yield a null
    feature row (never a wrong one).

    Features per clip — all exact integer/float arithmetic over the
    int16 samples (numpy, vectorized; no per-sample Python):
    rms (root mean square — the sum of squares accumulates as an EXACT
    int64, so rms = sqrt(sum_sq/n) is a deterministic IEEE
    divide+sqrt over exact integers and replays bit-identically in any
    engine; float-mean accumulation order would not), peak (max |sample|),
    zero_cross (count of adjacent pairs with strictly opposite signs,
    s[i-1]*s[i] < 0 — the standard simple ZCR; zeros never count;
    multi-channel counts the interleaved stream). duration_ms is
    floor(n_samples * 1000 / rate) — integer, so it replays bit-exactly
    in any engine.
    """
    import numpy as np

    from lumbermill_spark.functions import wav_lite

    def _one(payload: bytes):
        try:
            rate, channels, s = wav_lite.parse_wav(payload)
        except wav_lite.WavError:
            return (None, None, None, None, None, None, None)
        n = len(s) // channels if channels else 0
        if len(s) == 0:
            return (rate, channels, 0, 0, 0.0, 0, 0)
        w = s.astype(np.int64)
        sum_sq = int(np.sum(w * w))             # exact: n*32767^2 << 2^63
        rms = float(np.sqrt(sum_sq / len(w)))
        peak = int(np.max(np.abs(w)))
        zc = int(np.count_nonzero(w[1:] * w[:-1] < 0))
        return (rate, channels, n, n * 1000 // rate if rate else 0,
                rms, peak, zc)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_one(bytes(p)) if p is not None
                     else (None,) * 7 for p in pdf["payload"]]
            out = pd.DataFrame(
                feats, columns=["sample_rate", "channels", "n_samples",
                                "duration_ms", "rms", "peak",
                                "zero_cross"])
            out.insert(0, "media_id", pdf["media_id"].values)
            yield out

    return df.mapInPandas(run, AUDIO_FEATURES)
