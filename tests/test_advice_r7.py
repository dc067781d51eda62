"""Regression tests for the round-7 ADVICE findings.

1. (high) grayscale TIFF through image_payload_to_array / rgb_stats:
   decode_tiff returns (h, w, 1); the routing layer must replicate to RGB
   so ``[:, :, :3].reshape(-1, 3)`` reductions see the PNG contract.
2. (medium) malformed payloads with valid magic must raise ValueError (not
   IndexError / struct.error) so the mapInPandas kernels' except clause
   emits NULL rows instead of dying: GIF frame rect beyond the logical
   screen, truncated TIFF IFD.
3. (low) encode_gif with 256 opaque colors + a transparent index must fit
   (transparent pixels' RGB never renders, so it leaves the palette).
4. (low) encode_tiff for images taller than 65535 rows promotes the
   ImageLength / RowsPerStrip tags from SHORT to LONG.
"""

import struct

import numpy as np
import pytest

from etl_for_dumdums_spark.operators.gif import decode_gif, encode_gif
from etl_for_dumdums_spark.operators.multimodal import image_payload_to_array
from etl_for_dumdums_spark.operators.tiff import decode_tiff, encode_tiff


def test_gray_tiff_routes_to_rgb():
    gray = (np.arange(48, dtype=np.uint8) * 5).reshape(6, 8)
    a = image_payload_to_array(encode_tiff(gray))
    assert a.shape == (6, 8, 3)
    for ch in range(3):
        assert (a[:, :, ch] == gray).all()


def test_gray_tiff_rgb_stats_row(spark):
    """End-to-end: a grayscale TIFF payload through the rgb_stats kernel
    produces a real (non-NULL) row with r == g == b == gray mean."""
    from etl_for_dumdums_spark.operators.multimodal import rgb_stats

    gray = np.full((4, 5), 100, dtype=np.uint8)
    gray[0, 0] = 200
    df = spark.createDataFrame(
        [(1, bytearray(encode_tiff(gray)))], "media_id long, payload binary"
    )
    row = rgb_stats(df).collect()[0]
    expected = gray.mean()
    assert row.dec_width == 5 and row.dec_height == 4
    assert row.mean_r == pytest.approx(expected)
    assert row.mean_r == row.mean_g == row.mean_b == row.brightness


def _one_frame_gif(rgb):
    return encode_gif(rgb)


def test_gif_frame_rect_beyond_screen_raises_valueerror():
    rgb = np.zeros((4, 4, 3), dtype=np.uint8)
    buf = bytearray(_one_frame_gif(rgb))
    i = buf.index(0x2C, 13)
    struct.pack_into("<H", buf, i + 5, 999)  # frame width 999 > screen 4
    with pytest.raises(ValueError):
        decode_gif(bytes(buf))


def test_truncated_tiff_ifd_raises_valueerror():
    # IFD claims 5 entries but the buffer ends mid-entry → struct.error
    # path must surface as ValueError
    buf = b"II*\x00" + struct.pack("<I", 8) + struct.pack("<H", 5) + b"\x00" * 6
    with pytest.raises(ValueError):
        decode_tiff(buf)


def test_gif_256_colors_plus_transparency_encodes():
    f = np.zeros((16, 16, 4), dtype=np.uint8)
    f[:, :, 0] = np.arange(256, dtype=np.uint8).reshape(16, 16)
    f[:, :, 1] = (np.arange(256) * 7 % 256).astype(np.uint8).reshape(16, 16)
    f[:, :, 3] = 255
    f[3, 3, 3] = 0  # 256 distinct opaque colors + one transparent pixel
    frames, _ = decode_gif(encode_gif(f))
    out = frames[0]
    assert out[3, 3, 3] == 0
    opaque = f[:, :, 3] == 255
    assert (out[:, :, :3][opaque] == f[:, :, :3][opaque]).all()


def test_gif_all_transparent_frame_encodes():
    f = np.zeros((2, 2, 4), dtype=np.uint8)  # alpha 0 everywhere
    frames, _ = decode_gif(encode_gif(f))
    assert (frames[0][:, :, 3] == 0).all()


def test_tall_tiff_rowsperstrip_long():
    h = 70_000
    gray = (np.arange(h, dtype=np.uint32) % 251).astype(np.uint8).reshape(h, 1)
    back = decode_tiff(encode_tiff(gray))
    assert back.shape == (h, 1, 1)
    assert (back[:, 0, 0] == gray[:, 0]).all()
