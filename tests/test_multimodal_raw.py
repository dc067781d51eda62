"""Real raw-RGB8 kernels: round-trip, deterministic resize, Spark-side
feature extraction, and the preserved codec gate."""

from __future__ import annotations

import numpy as np
import pytest


def _gradient(h, w):
    a = np.zeros((h, w, 3), dtype=np.uint8)
    a[..., 0] = np.linspace(0, 255, w, dtype=np.uint8)[None, :]
    a[..., 1] = np.linspace(0, 255, h, dtype=np.uint8)[:, None]
    a[..., 2] = 7
    return a


def test_raw_rgb_roundtrip():
    from etl_for_dumdums_spark.operators.multimodal import (
        decode_rgb_raw,
        encode_rgb_raw,
    )

    a = _gradient(12, 9)
    assert np.array_equal(decode_rgb_raw(encode_rgb_raw(a)), a)


def test_raw_resize_nearest_exact():
    from etl_for_dumdums_spark.operators.multimodal import (
        decode_rgb_raw,
        encode_rgb_raw,
        resize_rgb_raw,
    )

    a = _gradient(8, 8)
    out = decode_rgb_raw(resize_rgb_raw(encode_rgb_raw(a), 4, 4))
    # nearest-neighbor with floored integer maps: out[y,x] = a[y*2, x*2]
    assert np.array_equal(out, a[::2, ::2])
    # upscale is deterministic too
    up = decode_rgb_raw(resize_rgb_raw(encode_rgb_raw(a), 16, 16))
    yi = (np.arange(16) * 8) // 16
    assert np.array_equal(up, a[yi][:, yi])


def test_codec_gate_preserved():
    from etl_for_dumdums_spark.operators.multimodal import decode_rgb_raw

    with pytest.raises(NotImplementedError):
        decode_rgb_raw(b"\xff\xd8\xff\xe0 fake jpeg bytes")


def test_rgb_stats_spark_pipeline(spark):
    from etl_for_dumdums_spark.operators.multimodal import (
        encode_rgb_raw,
        rgb_stats,
    )

    imgs = [
        (1, encode_rgb_raw(np.full((4, 6, 3), 10, dtype=np.uint8))),
        (2, encode_rgb_raw(_gradient(5, 5))),
        (3, b"\x89PNG not raw"),
        (4, None),
    ]
    media = spark.createDataFrame(imgs, "media_id long, payload binary")
    rows = {r["media_id"]: r for r in rgb_stats(media).collect()}
    assert rows[1]["dec_width"] == 6 and rows[1]["dec_height"] == 4
    assert rows[1]["mean_r"] == rows[1]["brightness"] == 10.0
    g = _gradient(5, 5).reshape(-1, 3).mean(axis=0)
    assert abs(rows[2]["mean_g"] - g[1]) < 1e-9
    # codec / null rows fall through with NULLs, not errors
    assert rows[3]["dec_width"] is None and rows[4]["brightness"] is None


# ---------------------------------------------------------------------------
# Raw PCM16 audio kernels (the audio twin of the RGB8 family)
# ---------------------------------------------------------------------------
def test_pcm16_roundtrip_and_downsample():
    import numpy as np

    from etl_for_dumdums_spark.operators.multimodal import (
        decode_pcm16,
        downsample_pcm16,
        encode_pcm16,
    )

    a = np.array([0, 100, -200, 32767, -32768, 15000], dtype=np.int16)
    payload = encode_pcm16(a, 16000)
    rate, back = decode_pcm16(payload)
    assert rate == 16000
    assert (back == a).all()
    r2, dec = decode_pcm16(downsample_pcm16(payload, 4))
    assert r2 == 4000
    assert list(dec) == [0, -32768]

    # non-divisor factors are rejected: 16000/3 would silently truncate to
    # 5333 Hz and every rate-derived stat would drift
    import pytest

    with pytest.raises(ValueError):
        downsample_pcm16(payload, 3)
    with pytest.raises(ValueError):
        downsample_pcm16(payload, 0)


def test_pcm16_codec_gate():
    import pytest

    from etl_for_dumdums_spark.operators.multimodal import decode_pcm16

    with pytest.raises(NotImplementedError):
        decode_pcm16(b"ID3\x04not-actually-raw")


def test_pcm_stats_matches_serial(spark):
    import math

    import numpy as np

    from etl_for_dumdums_spark.operators.multimodal import encode_pcm16, pcm_stats

    rng_clips = {
        1: np.array([100, -100, 200, -15500, 15000, 0, -1], dtype=np.int16),
        2: np.array([5, 5, 5], dtype=np.int16),
    }
    rows = [(mid, bytearray(encode_pcm16(a, 8000))) for mid, a in rng_clips.items()]
    rows.append((3, None))  # null payload passes through as NULLs
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r["media_id"]: r for r in pcm_stats(media, clip_abs=15000).collect()}

    for mid, a in rng_clips.items():
        x = a.astype(np.int64)
        r = got[mid]
        assert r["rate"] == 8000
        assert r["n_samples"] == len(x)
        assert r["duration_ms"] == len(x) * 1000 // 8000
        assert r["rms_int"] == math.isqrt(int((x * x).sum()) // len(x))
        assert r["zero_cross"] == int((x[:-1] * x[1:] < 0).sum())
        assert r["peak"] == int(np.abs(x).max())
        assert r["n_clipped"] == int((np.abs(x) >= 15000).sum())
    assert got[3]["n_samples"] is None and got[3]["rms_int"] is None


def _wav(fmt_code, channels, rate, bits, data, cb_extra=b""):
    import struct

    block = channels * max(1, bits // 8)
    fmt = struct.pack(
        "<HHIIHH", fmt_code, channels, rate, rate * block, block, bits
    ) + cb_extra
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_pcm_stats_undecodable_wav_yields_nulls(spark):
    """An mp3-in-WAV passes is_wav() but decode_wav raises
    NotImplementedError inside the kernel — the row must pass through as
    NULLs instead of failing the whole Spark job (r4 advice finding #1)."""
    import numpy as np

    from etl_for_dumdums_spark.operators.codecs import encode_wav, is_wav
    from etl_for_dumdums_spark.operators.multimodal import encode_pcm16, pcm_stats

    adpcm_wav = _wav(0x55, 1, 8000, 4, b"\x12\x34\x56\x78")  # mp3: no decoder
    assert is_wav(adpcm_wav)  # the magic check alone cannot reject it

    # truncated/garbage RIFF body raises ValueError — also NULLs, not a crash
    corrupt_wav = b"RIFF\x08\x00\x00\x00WAVEgarb"

    good = encode_wav(np.array([100, -100, 200], dtype=np.int16), 8000)
    media = spark.createDataFrame(
        [
            (1, bytearray(adpcm_wav)),
            (2, bytearray(corrupt_wav)),
            (3, bytearray(good)),
            (4, bytearray(encode_pcm16(np.array([5, -5], dtype=np.int16), 4000))),
        ],
        "media_id long, payload binary",
    )
    got = {r["media_id"]: r for r in pcm_stats(media).collect()}
    assert got[1]["n_samples"] is None and got[1]["rate"] is None
    assert got[2]["n_samples"] is None
    assert got[3]["n_samples"] == 3 and got[3]["rate"] == 8000
    assert got[4]["n_samples"] == 2 and got[4]["rate"] == 4000


def test_decode_wav_linear_formats():
    """Every linear-sample WAV shape decodes to the documented int16
    conversion: float32/64 clip-scale-round, 8-bit unsigned recenter,
    24/32-bit arithmetic shift, extensible GUID unwrap."""
    import struct

    import numpy as np

    from etl_for_dumdums_spark.operators.codecs import decode_wav

    # float32: clip(-1,1) * 32767, round-half-even
    f32 = _wav(3, 1, 8000, 32, struct.pack("<4f", 0.5, -0.25, 1.5, -2.0))
    rate, ch, a = decode_wav(f32)
    assert (rate, ch) == (8000, 1)
    assert list(a.reshape(-1)) == [16384, -8192, 32767, -32767]

    # float64
    f64 = _wav(3, 1, 4000, 64, struct.pack("<2d", 1.0, -1.0))
    assert list(decode_wav(f64)[2].reshape(-1)) == [32767, -32767]

    # 8-bit unsigned PCM: (v - 128) << 8
    u8 = _wav(1, 1, 8000, 8, bytes([0, 128, 255]))
    assert list(decode_wav(u8)[2].reshape(-1)) == [-32768, 0, 32512]

    # 24-bit PCM: arithmetic >> 8 (LE 3-byte signed)
    s24 = _wav(1, 1, 8000, 24, b"\x00\x00\x01" + b"\xff\xff\xff" + b"\x00\x00\x80")
    assert list(decode_wav(s24)[2].reshape(-1)) == [256, -1, -32768]

    # 32-bit PCM: >> 16
    s32 = _wav(1, 1, 8000, 32, struct.pack("<2i", 1 << 16, -(1 << 31)))
    assert list(decode_wav(s32)[2].reshape(-1)) == [1, -32768]

    # WAVE_FORMAT_EXTENSIBLE wrapping PCM16: GUID first two bytes = 0x0001
    guid = struct.pack("<H", 1) + b"\x00\x00\x00\x00\x10\x00\x80\x00\x00\xaa\x00\x38\x9b\x71"
    ext = _wav(
        0xFFFE, 2, 16000, 16,
        struct.pack("<4h", 10, -10, 20, -20),
        cb_extra=struct.pack("<HHI", 22, 16, 0x3) + guid,
    )
    rate, ch, a = decode_wav(ext)
    assert (rate, ch) == (16000, 2)
    assert a.tolist() == [[10, -10], [20, -20]]

    # G.711 mu-law (format 7): table-exact values from the standard's
    # expansion (sun g711 reference points: 0x00 -> -32124, 0x80 -> +32124,
    # 0xFF/0x7F -> 0)
    mu = _wav(7, 1, 8000, 8, bytes([0x00, 0x80, 0xFF, 0x7F]))
    assert list(decode_wav(mu)[2].reshape(-1)) == [-32124, 32124, 0, 0]

    # G.711 A-law (format 6): sign bit SET = positive (0xD5 -> +8,
    # 0x55 -> -8, 0xAA -> +32256, 0x2A -> -32256)
    al = _wav(6, 1, 8000, 8, bytes([0xD5, 0x55, 0xAA, 0x2A]))
    assert list(decode_wav(al)[2].reshape(-1)) == [8, -8, 32256, -32256]

    # true compressed formats still gate honestly
    import pytest

    with pytest.raises(NotImplementedError):
        decode_wav(_wav(0x55, 1, 8000, 4, b"\x00\x00"))  # mp3-in-WAV


def test_decode_png_gray_palette_alpha():
    """PNG color types 0/3/4 decode: grayscale replicates to RGB, palette
    resolves through PLTE (+ tRNS alpha), gray+alpha becomes RGBA."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from etl_for_dumdums_spark.operators.codecs import decode_png

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    def png(color_type, ch, rows, extra=b""):
        h_, w_ = len(rows), len(rows[0]) // ch
        ihdr = struct.pack(">IIBBBBB", w_, h_, 8, color_type, 0, 0, 0)
        raw = b"".join(b"\x00" + bytes(r) for r in rows)
        return (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + extra
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
        )

    # type 0: 2x2 grayscale
    g = decode_png(png(0, 1, [[10, 200], [0, 255]]))
    assert g.shape == (2, 2, 3) and g[0, 1].tolist() == [200, 200, 200]

    # type 4: gray+alpha
    ga = decode_png(png(4, 2, [[100, 255, 50, 0]]))
    assert ga.shape == (1, 2, 4)
    assert ga[0, 0].tolist() == [100, 100, 100, 255]
    assert ga[0, 1].tolist() == [50, 50, 50, 0]

    # type 3: palette (2 entries) + tRNS on entry 0
    plte = chunk(b"PLTE", bytes([255, 0, 0, 0, 0, 255]))
    trns = chunk(b"tRNS", bytes([128]))
    p = decode_png(png(3, 1, [[0, 1]], extra=plte + trns))
    assert p.shape == (1, 2, 4)
    assert p[0, 0].tolist() == [255, 0, 0, 128]
    assert p[0, 1].tolist() == [0, 0, 255, 255]
    # without tRNS: plain RGB
    p2 = decode_png(png(3, 1, [[1, 0]], extra=plte))
    assert p2.shape == (1, 2, 3) and p2[0, 0].tolist() == [0, 0, 255]
    # palette index out of range is malformed, not a crash elsewhere
    with pytest.raises(ValueError):
        decode_png(png(3, 1, [[5]], extra=plte))
    # 16-bit grayscale now decodes (MSB downsample): 1x1 sample 0xAB 0xCD
    ihdr16 = struct.pack(">IIBBBBB", 1, 1, 16, 0, 0, 0, 0)
    deep = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr16)
        + chunk(b"IDAT", zlib.compress(b"\x00\xab\xcd")) + chunk(b"IEND", b"")
    )
    g16 = decode_png(deep)
    assert g16.shape == (1, 1, 3) and g16[0, 0].tolist() == [0xAB, 0xAB, 0xAB]
    # 16-bit PALETTE is not a legal PNG shape — stays gated
    ihdr16p = struct.pack(">IIBBBBB", 1, 1, 16, 3, 0, 0, 0)
    bad = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr16p)
        + chunk(b"IDAT", zlib.compress(b"\x00\x00\x00")) + chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError):
        decode_png(bad)


def test_rgb_stats_malformed_body_yields_nulls(spark):
    """Valid PNG magic + malformed body raises ValueError from the
    decoder, and JPEG magic has no decoder — the kernel must emit a NULL
    row for each, not kill the task (r4 advice finding #2)."""
    import numpy as np

    from etl_for_dumdums_spark.operators.codecs import encode_png
    from etl_for_dumdums_spark.operators.multimodal import encode_rgb_raw, rgb_stats

    bad_png = b"\x89PNG\r\n\x1a\x0a" + b"\x00" * 16  # signature, no IHDR
    bad_jpeg = b"\xff\xd8\xff\xe0" + b"\x00" * 8  # SOI marker, junk body
    good_png = encode_png(np.full((2, 2, 3), 7, dtype=np.uint8))
    media = spark.createDataFrame(
        [
            (1, bytearray(bad_png)),
            (2, bytearray(bad_jpeg)),
            (3, bytearray(good_png)),
            (4, bytearray(encode_rgb_raw(np.full((3, 3, 3), 9, dtype=np.uint8)))),
        ],
        "media_id long, payload binary",
    )
    got = {r["media_id"]: r for r in rgb_stats(media).collect()}
    assert got[1]["dec_width"] is None
    assert got[2]["dec_width"] is None
    assert got[3]["dec_width"] == 2 and got[3]["mean_r"] == 7.0
    assert got[4]["dec_width"] == 3 and got[4]["brightness"] == 9.0
