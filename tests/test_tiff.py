"""TIFF payloads sit behind the image codec gate.

The package decodes PNG and raw RGB8 only (operators/multimodal.py), so
little-endian (II) and big-endian (MM) TIFF files must raise
NotImplementedError from ``decode_image`` / ``resize_payload`` and pass
through ``rgb_stats`` as NULL rows, the same as JPEG/WebP."""

import struct

import numpy as np
import pytest

from etl_for_dumdums_spark.operators.multimodal import (
    decode_image,
    image_payload_to_array,
    resize_payload,
)


def _gray_tiff(e, w=2, h=2):
    """Baseline uncompressed 8-bit grayscale TIFF: header, one IFD with
    inline values, then the strip."""
    tags = [
        (256, 3, 1, w),  # ImageWidth
        (257, 3, 1, h),  # ImageLength
        (258, 3, 1, 8),  # BitsPerSample
        (259, 3, 1, 1),  # Compression: none
        (262, 3, 1, 1),  # Photometric: BlackIsZero
        (273, 4, 1, 0),  # StripOffsets, patched below
        (277, 3, 1, 1),  # SamplesPerPixel
        (278, 3, 1, h),  # RowsPerStrip
        (279, 4, 1, w * h),  # StripByteCounts
    ]
    strip_at = 8 + 2 + 12 * len(tags) + 4
    out = bytearray((b"II*\x00" if e == "<" else b"MM\x00*") + struct.pack(e + "I", 8))
    out += struct.pack(e + "H", len(tags))
    for tag, typ, count, val in tags:
        val = strip_at if tag == 273 else val
        if typ == 3:
            out += struct.pack(e + "HHIHH", tag, typ, count, val, 0)
        else:
            out += struct.pack(e + "HHII", tag, typ, count, val)
    out += struct.pack(e + "I", 0)
    return bytes(out) + bytes(range(w * h))


def test_image_dispatch_routes_tiff():
    for e in ("<", ">"):
        t = _gray_tiff(e)
        with pytest.raises(NotImplementedError):
            image_payload_to_array(t)
        with pytest.raises(NotImplementedError):
            decode_image(t)
        with pytest.raises(NotImplementedError):
            resize_payload(t, 1, 1)


def test_guards(spark):
    """rgb_stats keeps a TIFF row as NULLs instead of killing the task,
    and still decodes the PNG/raw rows next to it."""
    from etl_for_dumdums_spark.operators.codecs import encode_png
    from etl_for_dumdums_spark.operators.multimodal import encode_rgb_raw, rgb_stats

    media = spark.createDataFrame(
        [
            (1, bytearray(_gray_tiff("<"))),
            (2, bytearray(_gray_tiff(">"))),
            (3, bytearray(_gray_tiff("<")[:6])),  # truncated header
            (4, bytearray(encode_png(np.full((2, 2, 3), 7, dtype=np.uint8)))),
            (5, bytearray(encode_rgb_raw(np.full((3, 3, 3), 9, dtype=np.uint8)))),
        ],
        "media_id long, payload binary",
    )
    got = {r["media_id"]: r for r in rgb_stats(media).collect()}
    assert len(got) == 5
    for mid in (1, 2, 3):
        assert all(got[mid][c] is None for c in got[mid].__fields__ if c != "media_id")
    assert got[4]["dec_width"] == 2 and got[4]["mean_r"] == 7.0
    assert got[5]["dec_width"] == 3 and got[5]["brightness"] == 9.0
