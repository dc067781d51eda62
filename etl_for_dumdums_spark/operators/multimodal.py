"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

Decode support comes in three honest tiers:

* REAL codecs, zero dependencies (operators/codecs.py): PNG (every
  spec-legal depth/type/interlace shape — zlib is stdlib) and WAV
  (linear PCM 8-32 bit, IEEE float, G.711 mu-law/A-law, IMA and MS
  ADPCM). ``decode_image`` / ``resize_payload`` / ``rgb_stats`` /
  ``pcm_stats`` route these to full decodes.
* REAL raw kernels: the self-describing RGB8/PCM1 formats below (what a
  production decode stage emits) — numpy only.
* REAL GIF + BMP (operators/gif.py): full LZW (variable width, dict
  reset, interlace), multi-frame animations with transparency and
  disposal; BI_RGB BMP at 8 (paletted) / 24 / 32 bits, both rasters.
* REAL TIFF (operators/tiff.py): baseline 6.0, both byte orders —
  none/LZW (MSB-first early-change variant)/deflate/PackBits,
  horizontal predictor, gray/RGB/RGBA/palette, multi-strip.
* STUBS behind NotImplementedError: everything else (JPEG, WebP,
  AIFF, mp3, video codecs); ``fake=True`` gives a deterministic
  digest-derived stand-in so pipelines and tests exercise the full Spark path with
  realistic shapes.

Everything Spark-side is real and tested regardless of tier: schemas,
Arrow batch shapes, mapInPandas signatures, and partition-size control.

Scale notes: binary payloads dominate partition size, so ``repartition`` by
target bytes before the UDF (maxPartitionBytes alone under-splits mixed
rows); metadata-only transforms must project the binary column away first
so Parquet never materializes it (column pruning works per-column).
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("payload_bytes", T.LongType(), True),
        T.StructField("digest", T.StringType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def image_payload_to_array(payload: bytes):
    """Route an image payload to a REAL decode: PNG (operators/codecs.py),
    GIF (first coalesced frame) / BMP / ICO favicons (operators/gif.py),
    TIFF (operators/tiff.py),
    or self-describing RGB8 raw. Returns (h, w, ch) uint8 with ch >= 3:
    single-channel decodes (grayscale TIFF) are replicated to RGB here so
    every downstream ``[:, :, :3]`` reduction sees the same contract the
    PNG decoder honors natively. Raises NotImplementedError for codec
    formats without an in-container decoder (JPEG/WebP/...) — the honest
    gate."""
    import numpy as np

    from .codecs import decode_png, is_png
    from .gif import decode_bmp, decode_gif, decode_ico, is_bmp, is_gif, is_ico
    from .tiff import decode_tiff, is_tiff

    if is_png(payload):
        a = decode_png(bytes(payload))
    elif is_gif(payload):
        a = decode_gif(bytes(payload))[0][0]
    elif is_bmp(payload):
        a = decode_bmp(bytes(payload))
    elif is_tiff(payload):
        a = decode_tiff(bytes(payload))
    elif is_ico(payload):
        a = decode_ico(bytes(payload))
    else:
        a = decode_rgb_raw(bytes(payload) if payload is not None else None)
    if a.ndim == 2:
        a = a[:, :, None]
    if a.shape[2] == 1:
        a = np.repeat(a, 3, axis=2)
    return a


def decode_image(payload: bytes, fake: bool = False) -> list[float]:
    """Decode an image payload to an 8-dim feature vector.

    REAL for every decodable format (PNG, GIF, BMP, TIFF, ICO,
    RGB8-raw): per-channel means + brightness + normalized dimensions,
    all deterministic byte arithmetic. With ``fake=True`` returns a
    digest-derived stand-in instead (the pre-codec behavior, kept for
    pipeline-shape tests). Formats without an in-container decoder
    (JPEG, WebP) raise NotImplementedError.
    """
    if fake:
        digest = hashlib.sha256(payload or b"").digest()
        return [b / 255.0 for b in digest[:8]]
    a = image_payload_to_array(payload)
    h, w = a.shape[:2]
    rgb = a[:, :, :3].reshape(-1, 3).mean(axis=0)
    return [
        float(rgb[0]) / 255.0,
        float(rgb[1]) / 255.0,
        float(rgb[2]) / 255.0,
        float(rgb.mean()) / 255.0,
        min(w / 65535.0, 1.0),
        min(h / 65535.0, 1.0),
        a.shape[2] / 4.0,
        1.0,
    ]


def extract_features(media: DataFrame, fake_decode: bool = True) -> DataFrame:
    """mapInPandas feature extraction over Arrow batches.

    One pandas batch per Arrow chunk; the UDF touches payload bytes only —
    no row-at-a-time Python. Swap ``decode_image`` for a real kernel (or an
    ONNX session initialized once per partition) in production.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload_bytes": pdf["payload"].map(
                        lambda p: len(p) if p is not None else None
                    ),
                    "digest": pdf["payload"].map(
                        lambda p: hashlib.sha256(p).hexdigest()[:16] if p is not None else None
                    ),
                    "feature": pdf["payload"].map(
                        lambda p: decode_image(p, fake=fake_decode) if p is not None else None
                    ),
                }
            )
            yield out

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def media_metadata_stats(media: DataFrame) -> DataFrame:
    """Metadata-only aggregate — projects the binary column away so the
    parquet scan never reads payload bytes (verify via ReadSchema)."""
    return (
        media.select("kind", "width", "height", "duration_ms")
        .groupBy("kind")
        .agg(
            F.count("*").alias("n_assets"),
            F.avg("width").alias("avg_width"),
            F.avg("height").alias("avg_height"),
            F.sum("duration_ms").alias("total_duration_ms"),
        )
    )


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling plan for video rows: one output row per sampled
    timestamp (the decode itself is the stubbed kernel). Demonstrates the
    explode-then-decode shape that keeps frame extraction distributed."""
    return (
        media.filter(F.col("kind") == "video")
        .withColumn(
            "frame_ts_ms",
            F.explode(F.sequence(F.lit(0), F.col("duration_ms") - 1, F.lit(every_ms))),
        )
        .select("media_id", "frame_ts_ms", "payload")
    )


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("payload", T.BinaryType(), True),
    ]
)


def resize_payload(payload: bytes, width: int, height: int, fake: bool = False) -> bytes:
    """Resize an image payload.

    REAL for every decodable format (decode → nearest-neighbor →
    re-encode, format family preserved: PNG→PNG, GIF→GIF
    — first coalesced frame of an animation, still ≤256 colors under
    nearest-neighbor so the palette re-encode is exact — BMP→24/32-bit
    BMP, TIFF→TIFF, ICO→PNG-entry ICO) and RGB8-raw payloads;
    deterministic integer index maps so every engine/run produces
    identical bytes. With ``fake=True`` returns a digest-derived
    pseudo-payload sized proportionally to the target area (kept for
    pipeline-shape tests). Formats without an in-container decoder
    raise NotImplementedError."""
    if fake:
        seed = hashlib.sha256((payload or b"") + f"{width}x{height}".encode()).digest()
        target_len = max(16, (width * height) // 64)
        reps = target_len // len(seed) + 1
        return (seed * reps)[:target_len]
    from .codecs import encode_png, is_png
    from .gif import encode_bmp, encode_gif, encode_ico, is_bmp, is_gif, is_ico
    from .tiff import encode_tiff, is_tiff

    encoders = (
        (is_png, encode_png),
        (is_gif, encode_gif),
        (is_bmp, encode_bmp),
        (is_tiff, encode_tiff),
        (is_ico, encode_ico),
    )
    for probe, enc in encoders:
        if probe(payload):
            import numpy as np

            a = image_payload_to_array(payload)
            sh, sw = a.shape[:2]
            yi = (np.arange(height, dtype=np.int64) * sh) // height
            xi = (np.arange(width, dtype=np.int64) * sw) // width
            return enc(a[yi][:, xi])
    return resize_rgb_raw(payload, width, height)


def resize_images(
    media: DataFrame, width: int, height: int, fake_resize: bool = True
) -> DataFrame:
    """mapInPandas resize over Arrow batches: image rows only (filter pushes
    to the scan), payload-in/payload-out with the new dimensions attached.
    Swap ``resize_payload`` for a real kernel in production — the Spark
    plumbing (schema, batching, filter pushdown) is identical."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": width,
                    "height": height,
                    "payload": pdf["payload"].map(
                        lambda p: resize_payload(p, width, height, fake=fake_resize)
                        if p is not None
                        else None
                    ),
                }
            )

    return (
        media.filter(F.col("kind") == "image")
        .select("media_id", "payload")
        .mapInPandas(run, schema=RESIZE_SCHEMA)
    )


# ---------------------------------------------------------------------------
# REAL kernels for RAW payloads (no codec needed): a self-describing
# uncompressed RGB format — b"RGB8" magic + uint32-BE width + uint32-BE
# height + w·h·3 interleaved RGB bytes. Formats without a decoder
# (JPEG/WebP/…) stay behind the honest NotImplementedError gates above;
# for raw frames (exactly what a production video-decode stage emits)
# decode, feature extraction, and resize below are the real thing, in
# numpy, over Arrow batches — proving the "swap the kernel in production" claim end-to-end.
# ---------------------------------------------------------------------------
RAW_RGB_MAGIC = b"RGB8"
_HDR = len(RAW_RGB_MAGIC) + 8


def encode_rgb_raw(arr) -> bytes:
    """(h, w, 3) uint8 numpy array → self-describing raw payload."""
    import numpy as np

    a = np.ascontiguousarray(arr, dtype=np.uint8)
    h, w, c = a.shape
    assert c == 3, "RGB8 payloads are 3-channel"
    return RAW_RGB_MAGIC + w.to_bytes(4, "big") + h.to_bytes(4, "big") + a.tobytes()


def decode_rgb_raw(payload: bytes):
    """Raw payload → (h, w, 3) uint8 array. Real decode — numpy only.

    Raises NotImplementedError for non-raw payloads (codec formats), the
    same honest gate as decode_image."""
    import numpy as np

    if payload is None or payload[: len(RAW_RGB_MAGIC)] != RAW_RGB_MAGIC:
        raise NotImplementedError(
            "not a raw RGB8 payload — codec formats need PIL/opencv"
        )
    w = int.from_bytes(payload[4:8], "big")
    h = int.from_bytes(payload[8:12], "big")
    a = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=_HDR)
    return a.reshape(h, w, 3)


def resize_rgb_raw(payload: bytes, width: int, height: int) -> bytes:
    """Nearest-neighbor resize of a raw RGB8 payload — deterministic
    integer index maps (src_i = i·src/dst floored), so every engine/run
    produces identical bytes."""
    import numpy as np

    a = decode_rgb_raw(payload)
    sh, sw = a.shape[:2]
    yi = (np.arange(height, dtype=np.int64) * sh) // height
    xi = (np.arange(width, dtype=np.int64) * sw) // width
    return encode_rgb_raw(a[yi][:, xi])


def rgb_stats(media: DataFrame) -> DataFrame:
    """mapInPandas REAL feature extraction for every decodable image
    format (RGB8-raw, PNG, GIF, BMP, TIFF, ICO): decoded dimensions +
    per-channel means + brightness, one vectorized numpy reduction per
    image. Payloads without an in-container decoder (JPEG, WebP) pass
    through with NULLs — the honest gate."""
    import numpy as np

    from .codecs import is_png
    from .gif import is_bmp, is_gif, is_ico
    from .tiff import is_tiff

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), True),
            T.StructField("dec_width", T.IntegerType(), True),
            T.StructField("dec_height", T.IntegerType(), True),
            T.StructField("mean_r", T.DoubleType(), True),
            T.StructField("mean_g", T.DoubleType(), True),
            T.StructField("mean_b", T.DoubleType(), True),
            T.StructField("brightness", T.DoubleType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                head = bytes(p[:16]) if p is not None else b""
                if p is None or not (
                    head[:4] == RAW_RGB_MAGIC
                    or is_png(head)
                    or is_gif(head)
                    or is_bmp(head)
                    or is_tiff(head)
                    or is_ico(head)
                ):
                    rows.append((mid, None, None, None, None, None, None))
                    continue
                try:
                    a = image_payload_to_array(bytes(p))[:, :, :3]
                except (NotImplementedError, ValueError, struct.error):
                    # NotImplementedError: no in-container decoder (e.g.
                    # an unsupported TIFF mode); ValueError: valid magic but
                    # malformed body — both pass through as NULLs instead
                    # of killing the task (r4 advice findings #1/#2)
                    rows.append((mid, None, None, None, None, None, None))
                    continue
                means = a.reshape(-1, 3).mean(axis=0)
                rows.append(
                    (
                        mid,
                        a.shape[1],
                        a.shape[0],
                        float(means[0]),
                        float(means[1]),
                        float(means[2]),
                        float(means.mean()),
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return media.select("media_id", "payload").mapInPandas(run, schema=schema)


# ---------------------------------------------------------------------------
# REAL kernels for RAW AUDIO payloads — the audio twin of the RGB8 family: a
# self-describing uncompressed PCM format (b"PCM1" magic + uint32-BE sample
# rate + uint32-BE sample count + int16-LE samples). Compressed audio
# (mp3/ogg/…) stays behind the honest NotImplementedError gate; for raw PCM
# (what a production audio-decode stage emits) encode, decode, clip-level
# stats, and downsampling below are the real thing, in numpy, over Arrow
# batches. Every statistic is integer-exact (sum of squares, isqrt RMS,
# sign-change zero crossings), so every output can be restated in closed
# form and checked exactly.
# ---------------------------------------------------------------------------
RAW_PCM_MAGIC = b"PCM1"
_PCM_HDR = len(RAW_PCM_MAGIC) + 8


def encode_pcm16(samples, rate: int) -> bytes:
    """int16 numpy array + sample rate → self-describing raw PCM payload."""
    import numpy as np

    a = np.ascontiguousarray(samples, dtype="<i2")
    return (
        RAW_PCM_MAGIC
        + int(rate).to_bytes(4, "big")
        + int(a.shape[0]).to_bytes(4, "big")
        + a.tobytes()
    )


def decode_pcm16(payload: bytes):
    """Raw payload → (rate, int16 numpy array). Real decode — numpy only.

    Raises NotImplementedError for non-raw payloads (codec formats), the
    same honest gate as decode_image/decode_rgb_raw."""
    import numpy as np

    if payload is None or payload[: len(RAW_PCM_MAGIC)] != RAW_PCM_MAGIC:
        raise NotImplementedError("not a raw PCM16 payload — codecs unavailable")
    rate = int.from_bytes(payload[4:8], "big")
    n = int.from_bytes(payload[8:12], "big")
    import numpy as _np

    a = _np.frombuffer(payload, dtype="<i2", count=n, offset=_PCM_HDR)
    return rate, a


def downsample_pcm16(payload: bytes, factor: int) -> bytes:
    """Every-factor-th-sample decimation (no filter) — deterministic integer
    index map, rate divided by the factor; the audio analogue of the
    nearest-neighbor RGB8 resize.

    ``factor`` must divide the sample rate exactly: the decimation semantic
    only holds for integer divisors (16000 Hz / 3 would silently truncate
    to 5333 Hz and every rate-derived stat — duration_ms, RMS windows —
    would drift from the true sample spacing; r3 advice finding #5)."""
    rate, a = decode_pcm16(payload)
    if factor <= 0 or rate % factor != 0:
        raise ValueError(
            f"factor {factor} must be a positive exact divisor of rate {rate} "
            "— non-integer output rates break every rate-derived stat"
        )
    return encode_pcm16(a[::factor], rate // factor)


def audio_payload_to_pcm(payload: bytes):
    """Route an audio payload to a REAL decode → (rate, mono int16 array):
    PCM1 raw as-is; WAV (operators/codecs.py) with multi-channel frames
    mixed down by exact integer average (sum // channels —
    deterministic). Other formats (AIFF/mp3/ogg/...) raise
    NotImplementedError."""
    from .codecs import decode_wav, is_wav

    if is_wav(payload):
        import numpy as np

        rate, ch, frames = decode_wav(bytes(payload))
        if ch == 1:
            return rate, frames.reshape(-1)
        mono = frames.astype(np.int64).sum(axis=1) // ch
        return rate, mono.astype("<i2")
    return decode_pcm16(bytes(payload) if payload is not None else None)


def pcm_stats(media: DataFrame, clip_abs: int = 15000) -> DataFrame:
    """mapInPandas REAL per-clip stats for raw-PCM16 and WAV rows: duration (exact integer ms), RMS (isqrt of the mean
    square — integer), zero crossings (strict sign products < 0), peak
    amplitude, and samples at/above the clipping threshold.
    Multi-channel clips are integer-mixed to mono first
    (audio_payload_to_pcm). Payloads without an in-container decoder pass through
    with NULLs."""
    import math

    import numpy as np

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), True),
            T.StructField("rate", T.IntegerType(), True),
            T.StructField("n_samples", T.LongType(), True),
            T.StructField("duration_ms", T.LongType(), True),
            T.StructField("rms_int", T.LongType(), True),
            T.StructField("zero_cross", T.LongType(), True),
            T.StructField("peak", T.LongType(), True),
            T.StructField("n_clipped", T.LongType(), True),
        ]
    )

    from .codecs import is_wav

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                head = bytes(p[:24]) if p is not None else b""
                if p is None or not (
                    head[:4] == RAW_PCM_MAGIC
                    or is_wav(head[:12])
                ):
                    rows.append((mid, None, None, None, None, None, None, None))
                    continue
                try:
                    rate, a = audio_payload_to_pcm(bytes(p))
                except (NotImplementedError, ValueError, struct.error):
                    # an mp3-in-WAV passes is_wav() but has no in-container
                    # decoder; malformed bodies raise ValueError
                    # — both emit a NULL row, matching rgb_stats (r4 advice #1)
                    rows.append((mid, None, None, None, None, None, None, None))
                    continue
                x = a.astype(np.int64)
                n = int(x.shape[0])
                ssq = int((x * x).sum())
                rows.append(
                    (
                        mid,
                        rate,
                        n,
                        n * 1000 // rate,
                        math.isqrt(ssq // n) if n else 0,
                        int((x[:-1] * x[1:] < 0).sum()) if n > 1 else 0,
                        int(np.abs(x).max()) if n else 0,
                        int((np.abs(x) >= clip_abs).sum()),
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return media.select("media_id", "payload").mapInPandas(run, schema=schema)
