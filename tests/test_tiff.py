"""Baseline TIFF codec tests (operators/tiff.py).

Same policy as the other codec suites: byte-exact roundtrips (every
supported TIFF compression is lossless), plus independently hand-built
streams the encoder cannot produce — a big-endian (MM) file, a
palette-color file with a 16-bit ColorMap, a PackBits-compressed strip,
and a WhiteIsZero grayscale — so the decoder is tested against more
than our own encoder's output. The TIFF LZW variant (MSB-first packing,
EARLY code-width change) is deliberately exercised across the 9→10-bit
and dictionary-reset boundaries where it differs from GIF's LZW."""

import struct

import numpy as np
import pytest

from etl_for_dumdums_spark.operators.tiff import (
    _packbits_decode,
    _tlzw_decode,
    _tlzw_encode,
    decode_tiff,
    encode_tiff,
    is_tiff,
)


def test_lzw_roundtrip_width_and_reset_boundaries():
    rng = np.random.RandomState(2)
    for n in (1, 253, 254, 255, 300, 5000, 400000):
        raw = rng.randint(0, 256, n).astype(np.uint8).tobytes()
        assert _tlzw_decode(_tlzw_encode(raw), n) == raw, n
    runs = (np.arange(100000) // 1000 % 256).astype(np.uint8).tobytes()
    assert _tlzw_decode(_tlzw_encode(runs), len(runs)) == runs


def test_lzw_hand_packed_msb_stream():
    """Hand-pack CLEAR, 'A', 'B', 258('AB'), EOI at 9 bits MSB-first with
    an independent packer: decodes to A B A B."""
    bits = []
    for code in (256, 65, 66, 258, 257):
        bits.extend((code >> (8 - i)) & 1 for i in range(9))
    by = bytearray()
    for i in range(0, len(bits), 8):
        b = 0
        for j, bit in enumerate(bits[i : i + 8]):
            b |= bit << (7 - j)
        by.append(b)
    assert _tlzw_decode(bytes(by), 4) == b"ABAB"


def test_packbits_hand_stream():
    # literal run of 3, repeat run of 4, no-op 128, literal 1
    data = bytes([2, 10, 20, 30, 0x100 - 3, 7, 128, 0, 99])
    assert _packbits_decode(data, 8) == bytes([10, 20, 30, 7, 7, 7, 7, 99])


def test_roundtrips_gray_rgb_rgba_all_modes():
    rng = np.random.RandomState(4)
    for shape in [(9, 13), (17, 23, 3), (10, 8, 4)]:
        img = rng.randint(0, 256, shape).astype(np.uint8)
        exp = img if img.ndim == 3 else img[:, :, None]
        for comp in ("none", "lzw"):
            for pred in (False, True):
                for rps in (None, 4):
                    back = decode_tiff(
                        encode_tiff(img, compression=comp, predictor=pred, rows_per_strip=rps)
                    )
                    assert back.shape == exp.shape and (back == exp).all()


def _hand_tiff(e, tags, trailing):
    """Assemble header + single IFD with inline-only values + raw bytes."""
    out = bytearray((b"II*\x00" if e == "<" else b"MM\x00*") + struct.pack(e + "I", 8))
    out += struct.pack(e + "H", len(tags))
    for tag, typ, count, val in sorted(tags):
        if typ == 3:
            out += struct.pack(e + "HHIHH", tag, typ, count, val, 0)
        else:
            out += struct.pack(e + "HHII", tag, typ, count, val)
    out += struct.pack(e + "I", 0)
    return bytes(out) + trailing


def test_big_endian_hand_built():
    """MM byte order, 3x2 RGB, uncompressed, BitsPerSample out-of-line —
    our encoder only writes II, so this is a foreign stream."""
    w, h = 3, 2
    rgb = np.arange(18, dtype=np.uint8).reshape(h, w, 3)
    raster = rgb.tobytes()
    # IFD: 8 header + 2 + 8*12 + 4 = 110 → bits array at 110 (6 B), raster 116
    tags = [
        (256, 3, 1, w), (257, 3, 1, h), (258, 3, 3, 110), (259, 3, 1, 1),
        (262, 3, 1, 2), (273, 4, 1, 116), (277, 3, 1, 3),
        (279, 4, 1, len(raster)),
    ]
    bits = struct.pack(">3H", 8, 8, 8)
    # tag 258 has count 3 → must be packed as a full offset, not inline
    out = bytearray(b"MM\x00*" + struct.pack(">I", 8))
    out += struct.pack(">H", len(tags))
    for tag, typ, count, val in sorted(tags):
        if typ == 3 and count == 1:
            out += struct.pack(">HHIHH", tag, typ, count, val, 0)
        else:
            out += struct.pack(">HHII", tag, typ, count, val)
    out += struct.pack(">I", 0)
    tif = bytes(out) + bits + raster
    assert is_tiff(tif)
    assert (decode_tiff(tif) == rgb).all()


def test_white_is_zero_inverts():
    w, h = 4, 2
    gray = np.arange(8, dtype=np.uint8).reshape(h, w)
    tags = [
        (256, 3, 1, w), (257, 3, 1, h), (258, 3, 1, 8), (259, 3, 1, 1),
        (262, 3, 1, 0),  # WhiteIsZero
        (273, 4, 1, 8 + 2 + 9 * 12 + 4), (277, 3, 1, 1), (279, 4, 1, 8),
        (278, 3, 1, h),
    ]
    tif = _hand_tiff("<", tags, gray.tobytes())
    assert (decode_tiff(tif)[:, :, 0] == 255 - gray).all()


def test_palette_hand_built():
    """Photometric 3 with a 16-bit ColorMap (out-of-line) — decoder must
    MSB-downsample the map to 8 bits and index it."""
    w, h, n = 4, 2, 4
    idx = np.array([[0, 1, 2, 3], [3, 2, 1, 0]], dtype=np.uint8)
    pal8 = [(10, 20, 30), (200, 0, 0), (0, 200, 0), (0, 0, 200)]
    # header 8 + count 2 + 10 tags * 12 + next 4 = 134
    ifd_end = 8 + 2 + 10 * 12 + 4
    cmap_off = ifd_end
    raster_off = cmap_off + 3 * n * 2
    tags = [
        (256, 3, 1, w), (257, 3, 1, h), (258, 3, 1, 8), (259, 3, 1, 1),
        (262, 3, 1, 3), (273, 4, 1, raster_off), (277, 3, 1, 1),
        (278, 3, 1, h), (279, 4, 1, w * h), (320, 3, 3 * n, cmap_off),
    ]
    cmap = b""
    for ch in range(3):
        for c in range(n):
            cmap += struct.pack("<H", pal8[c][ch] << 8)
    tif = _hand_tiff("<", tags, cmap + idx.tobytes())
    img = decode_tiff(tif)
    for y in range(h):
        for x in range(w):
            assert tuple(img[y, x]) == pal8[idx[y, x]]


def test_packbits_compressed_strip():
    w, h = 4, 2
    gray = np.array([[7, 7, 7, 7], [1, 2, 3, 4]], dtype=np.uint8)
    comp = bytes([0x100 - 3, 7, 3, 1, 2, 3, 4])  # repeat 7 x4, literal x4
    off = 8 + 2 + 9 * 12 + 4
    tags = [
        (256, 3, 1, w), (257, 3, 1, h), (258, 3, 1, 8), (259, 3, 1, 32773),
        (262, 3, 1, 1), (273, 4, 1, off), (277, 3, 1, 1), (278, 3, 1, h),
        (279, 4, 1, len(comp)),
    ]
    tif = _hand_tiff("<", tags, comp)
    assert (decode_tiff(tif)[:, :, 0] == gray).all()


def test_guards():
    with pytest.raises(ValueError):
        decode_tiff(b"not a tiff")
    img = np.zeros((4, 4, 3), np.uint8)
    t = bytearray(encode_tiff(img, compression="none"))
    # flip Compression (259) to old-style JPEG (6) — still gated
    n = struct.unpack_from("<H", t, 8)[0]
    for i in range(n):
        base = 10 + 12 * i
        if struct.unpack_from("<H", t, base)[0] == 259:
            struct.pack_into("<H", t, base + 8, 6)
    with pytest.raises(NotImplementedError):
        decode_tiff(bytes(t))
    with pytest.raises(NotImplementedError):
        encode_tiff(img, compression="packbits")


def test_image_dispatch_routes_tiff():
    from etl_for_dumdums_spark.operators.multimodal import image_payload_to_array

    img = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    back = image_payload_to_array(encode_tiff(img))
    assert (back == img).all()


def test_tiled_hand_built_with_predictor_and_lzw():
    """Tile organization (tags 322-325), hand-assembled: a 40x24 RGB
    image in 16x16 tiles (3 across x 2 down — right and bottom edge
    tiles padded to full tile size per spec §15), LZW-compressed with
    Predictor 2 applied PER TILE (differencing restarts at each tile's
    left edge). The decoder must crop padding and undo the predictor
    tile-locally."""
    rng = np.random.RandomState(12)
    w, h, tw, tl = 40, 24, 16, 16
    img = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
    across, down = (w + tw - 1) // tw, (h + tl - 1) // tl
    tiles = []
    for ty in range(down):
        for tx in range(across):
            tile = np.zeros((tl, tw, 3), dtype=np.uint8)
            ys = min(tl, h - ty * tl)
            xs = min(tw, w - tx * tw)
            tile[:ys, :xs] = img[ty * tl : ty * tl + ys, tx * tw : tx * tw + xs]
            diff = tile.astype(np.int16)
            diff[:, 1:] = diff[:, 1:] - tile.astype(np.int16)[:, :-1]
            from etl_for_dumdums_spark.operators.tiff import _tlzw_encode

            tiles.append(_tlzw_encode(diff.astype(np.uint8).tobytes()))
    n_tags = 11
    ifd_end = 8 + 2 + n_tags * 12 + 4
    bits_off = ifd_end
    toff_off = bits_off + 6
    tcnt_off = toff_off + 4 * len(tiles)
    data_base = tcnt_off + 4 * len(tiles)
    offsets = []
    pos = data_base
    for tdata in tiles:
        offsets.append(pos)
        pos += len(tdata)
    tags = [
        (256, 3, 1, w), (257, 3, 1, h), (258, 3, 3, bits_off), (259, 3, 1, 5),
        (262, 3, 1, 2), (277, 3, 1, 3), (317, 3, 1, 2),
        (322, 3, 1, tw), (323, 3, 1, tl),
        (324, 4, len(tiles), toff_off), (325, 4, len(tiles), tcnt_off),
    ]
    out = bytearray(b"II*\x00" + struct.pack("<I", 8))
    out += struct.pack("<H", len(tags))
    for tag, typ, count, val in sorted(tags):
        if typ == 3 and count == 1:
            out += struct.pack("<HHIHH", tag, typ, count, val, 0)
        else:
            out += struct.pack("<HHII", tag, typ, count, val)
    out += struct.pack("<I", 0)
    out += struct.pack("<3H", 8, 8, 8)
    out += struct.pack(f"<{len(tiles)}I", *offsets)
    out += struct.pack(f"<{len(tiles)}I", *[len(tdata) for tdata in tiles])
    for tdata in tiles:
        out += tdata
    got = decode_tiff(bytes(out))
    assert got.shape == (h, w, 3) and (got == img).all()


def test_tiled_guards():
    # non-multiple-of-16 tile size is spec-illegal
    tags = [
        (256, 3, 1, 8), (257, 3, 1, 8), (258, 3, 1, 8), (259, 3, 1, 1),
        (262, 3, 1, 1), (277, 3, 1, 1), (322, 3, 1, 10), (323, 3, 1, 16),
        (324, 4, 1, 200), (325, 4, 1, 64),
    ]
    tif = _hand_tiff("<", tags, b"\x00" * 300)
    with pytest.raises(ValueError, match="multiples of 16"):
        decode_tiff(tif)
