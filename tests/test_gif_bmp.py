"""GIF, BMP and ICO payloads sit behind the image codec gate.

The package decodes PNG and raw RGB8 only (operators/multimodal.py), so
every GIF/BMP/ICO payload must raise NotImplementedError from
``decode_image`` / ``resize_payload`` — the same honest gate as
JPEG/WebP — rather than fall into the raw kernel's parser or return
made-up pixels. The payloads are hand-built, well-formed files (plus
truncated and exotic variants), so the gate is tested on what real
inputs look like."""

import struct

import numpy as np
import pytest

from etl_for_dumdums_spark.operators.multimodal import (
    decode_image,
    image_payload_to_array,
    resize_payload,
)

# The classic 1x1 GIF89a: 2-colour global palette, one LZW-coded pixel.
GIF89A_1X1 = (
    b"GIF89a\x01\x00\x01\x00\x80\x00\x00\xff\xff\xff\x00\x00\x00"
    b",\x00\x00\x00\x00\x01\x00\x01\x00\x00\x02\x02D\x01\x00;"
)


def _dib(w, h, compression=0, height_factor=1):
    """BITMAPINFOHEADER + bottom-up 24-bit rows, each padded to 4 bytes."""
    stride = (w * 3 + 3) & ~3
    pixels = bytes(stride * h)
    info = struct.pack(
        "<IiiHHIIiiII",
        40, w, h * height_factor, 1, 24, compression, len(pixels), 2835, 2835, 0, 0,
    )
    return info + pixels


def _bmp(w, h, compression=0):
    dib = _dib(w, h, compression)
    return struct.pack("<2sIHHI", b"BM", 14 + len(dib), 0, 0, 14 + 40) + dib


def _ico(entry, w, h):
    """One-entry ICONDIR; ``entry`` is a DIB (height doubled) or a PNG."""
    head = struct.pack("<HHH", 0, 1, 1)
    return head + struct.pack("<BBBBHHII", w, h, 0, 0, 1, 32, len(entry), 22) + entry


def _assert_gated(payload):
    with pytest.raises(NotImplementedError):
        image_payload_to_array(payload)
    with pytest.raises(NotImplementedError):
        decode_image(payload)
    with pytest.raises(NotImplementedError):
        resize_payload(payload, 2, 2)


def test_gif_guards():
    """GIF87a, GIF89a, and a GIF cut off inside its header all hit the
    gate — never a ValueError/struct.error from a half-parse."""
    _assert_gated(GIF89A_1X1)
    _assert_gated(b"GIF87a" + GIF89A_1X1[6:])
    _assert_gated(GIF89A_1X1[:9])
    # the digest stand-in still works for gated formats
    feat = decode_image(GIF89A_1X1, fake=True)
    assert len(feat) == 8 and all(0.0 <= v <= 1.0 for v in feat)


def test_bmp_guards():
    _assert_gated(b"BM")
    _assert_gated(_bmp(4, 4, compression=4))  # BI_JPEG
    _assert_gated(_bmp(4, 4, compression=1))  # RLE8 header on a 24-bit raster


def test_image_dispatch_routes_gif_bmp():
    """Well-formed GIF and BMP files route to the gate, not to the raw
    RGB8 kernel (whose magic they do not carry)."""
    _assert_gated(GIF89A_1X1)
    _assert_gated(_bmp(3, 2))


def test_image_dispatch_routes_ico():
    """ICO payloads are gated whether the entry is a DIB or an embedded
    PNG: the container's magic decides, and ICO magic is not PNG magic —
    while the same PNG bytes on their own decode."""
    from etl_for_dumdums_spark.operators.codecs import encode_png

    img = (np.arange(4 * 4 * 4, dtype=np.uint8).reshape(4, 4, 4) * 3) % 256
    png = encode_png(img)
    _assert_gated(_ico(_dib(4, 4, height_factor=2), 4, 4))
    _assert_gated(_ico(png, 4, 4))
    assert (image_payload_to_array(png) == img).all()


def test_bmp_bitfields_still_gated():
    _assert_gated(_bmp(2, 2, compression=3))  # BI_BITFIELDS
