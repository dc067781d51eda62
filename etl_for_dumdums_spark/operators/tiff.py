"""Baseline TIFF 6.0 codec with zero external dependencies.

Completes the crawl-image-format set (codecs.py: PNG; gif.py: GIF/BMP)
with the remaining first-principles-implementable
format: TIFF is an IFD tag directory around strip rasters whose three
baseline compressions — none, PackBits, and LZW — are all pure byte/bit
arithmetic.

Scope (stated, not hidden):

* ``decode_tiff`` — both byte orders (II little / MM big endian), the
  first IFD: 8-bit grayscale (photometric 0 — WhiteIsZero — inverted
  per spec — and 1), 8-bit RGB/RGBA (extra samples pass through),
  16-bit palette-color (tag 320 ColorMap, MSB-downsampled to 8-bit like
  the PNG path), multi-strip rasters (RowsPerStrip), compression 1
  (none), 5 (TIFF-variant LZW: MSB-first bit packing, EARLY code-width
  change at 2^width - 1 — deliberately different from GIF's LZW, both
  implemented, both tested), 8/32946 (Adobe/legacy deflate — stdlib
  zlib), 32773 (PackBits), and Predictor 2 (horizontal differencing).
  Both strip AND tile organization decode (TileWidth/TileLength grids
  with full-size edge tiles cropped on assembly; the predictor is
  undone per tile since differencing restarts at each tile's left
  edge). PlanarConfiguration 2, 16-bit samples, tiled palette images,
  and JPEG compression (6 and 7) raise ``NotImplementedError`` — the
  honest gate; malformed structures raise ``ValueError``.
* ``encode_tiff`` — little-endian baseline: 8-bit gray/RGB/RGBA,
  compression none, LZW, or deflate (+ optional horizontal predictor),
  configurable RowsPerStrip, with dimension tags promoted to LONG past
  65535 rows/cols. ``tiled=True`` writes a tile organization (16x16
  tiles, padded edge tiles, per-tile predictor). Every mode is
  lossless: decode(encode(x)) == x.

Reference behavior being reproduced: the reference treats media as
opaque payload + typed metadata (SURVEY.md §2 multimodal plumbing);
this makes the image-decode stage real for one more wild format.
"""

from __future__ import annotations

import struct

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8, 11: 4, 12: 8}


def is_tiff(payload: bytes) -> bool:
    return (
        isinstance(payload, (bytes, bytearray))
        and len(payload) >= 8
        and (bytes(payload[:4]) == b"II*\x00" or bytes(payload[:4]) == b"MM\x00*")
    )


# ---------------------------------------------------------------------------
# TIFF-variant LZW (MSB-first, early change)
# ---------------------------------------------------------------------------
def _tlzw_decode(data: bytes, n_bytes: int) -> bytes:
    clear, eoi = 256, 257
    out = bytearray()
    acc = nbits = pos = 0
    table: list[bytes] = []
    width = 9
    prev: bytes | None = None

    def reset():
        return [bytes((i,)) for i in range(256)] + [b"", b""]

    table = reset()
    while len(out) < n_bytes:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("TIFF LZW stream truncated")
            acc = (acc << 8) | data[pos]
            nbits += 8
            pos += 1
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        if code == clear:
            table = reset()
            width = 9
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("TIFF LZW: first code not in table")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("TIFF LZW: code out of range")
        out += entry
        prev = entry
        # EARLY CHANGE: width grows when one slot remains (spec §13)
        if len(table) == (1 << width) - 1 and width < 12:
            width += 1
    if len(out) < n_bytes:
        raise ValueError("TIFF LZW: not enough raster data")
    return bytes(out[:n_bytes])


def _tlzw_encode(raw: bytes) -> bytes:
    clear, eoi = 256, 257
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    table: dict[bytes, int] = {bytes((i,)): i for i in range(256)}
    next_code = eoi + 1
    width = 9
    emit(clear, width)
    w = b""
    for b in raw:
        wk = w + bytes((b,))
        if wk in table:
            w = wk
            continue
        emit(table[w], width)
        table[wk] = next_code
        next_code += 1
        # the decoder's table lags ours by one entry (it appends while
        # processing the NEXT code), so its early change — bump when its
        # len reaches 2^w - 1, the libtiff rule — lands one code later
        # than our entry count suggests: pair it with the post-increment
        # 2^w condition here
        if next_code == (1 << width) and width < 12:
            width += 1
        if next_code == 4094:  # one below the 12-bit early-change point
            emit(clear, width)
            table = {bytes((i,)): i for i in range(256)}
            next_code = eoi + 1
            width = 9
        w = bytes((b,))
    if w:
        emit(table[w], width)
    emit(eoi, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


# ---------------------------------------------------------------------------
# PackBits
# ---------------------------------------------------------------------------
def _packbits_decode(data: bytes, n_bytes: int) -> bytes:
    out = bytearray()
    pos = 0
    while len(out) < n_bytes and pos < len(data):
        n = data[pos]
        pos += 1
        if n < 128:
            out += data[pos : pos + n + 1]
            pos += n + 1
        elif n > 128:
            if pos >= len(data):
                raise ValueError("PackBits run truncated")
            out += bytes((data[pos],)) * (257 - n)
            pos += 1
        # n == 128: no-op
    if len(out) < n_bytes:
        raise ValueError("PackBits: not enough raster data")
    return bytes(out[:n_bytes])


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------
def _read_ifd(buf: bytes, e: str):
    # struct.error here means the IFD (or a tag value it points at) runs
    # past the end of the payload — re-raised as ValueError per the
    # "malformed containers raise ValueError" contract the mapInPandas
    # stats kernels rely on to emit NULL rows instead of dying.
    try:
        (off,) = struct.unpack_from(e + "I", buf, 4)
        if off + 2 > len(buf):
            raise ValueError("TIFF IFD offset out of range")
        (n,) = struct.unpack_from(e + "H", buf, off)
        tags = {}
        for i in range(n):
            base = off + 2 + 12 * i
            tag, typ, count = struct.unpack_from(e + "HHI", buf, base)
            size = _TYPE_SIZES.get(typ, 1) * count
            if size <= 4:
                voff = base + 8
            else:
                (voff,) = struct.unpack_from(e + "I", buf, base + 8)
            if typ == 3:
                vals = list(struct.unpack_from(e + f"{count}H", buf, voff))
            elif typ == 4:
                vals = list(struct.unpack_from(e + f"{count}I", buf, voff))
            elif typ == 1:
                vals = list(buf[voff : voff + count])
            else:
                vals = [buf[voff : voff + size]]
            tags[tag] = vals
    except struct.error:
        raise ValueError("TIFF IFD truncated")
    return tags


def decode_tiff(payload: bytes):
    """→ (h, w, ch) uint8 (gray decodes to (h, w, 1); palette to RGB)."""
    import numpy as np

    if not is_tiff(payload):
        raise ValueError("not a TIFF payload")
    buf = bytes(payload)
    e = "<" if buf[:2] == b"II" else ">"
    t = _read_ifd(buf, e)
    tiled = 322 in t or 323 in t
    try:
        w = t[256][0]
        h = t[257][0]
        if tiled:
            offsets = t[324]
            counts = t[325]
        else:
            offsets = t[273]
            counts = t[279]
    except KeyError as exc:
        raise ValueError(f"TIFF missing required tag: {exc}")
    spp = t.get(277, [1])[0]
    bps = t.get(258, [1] * spp)
    comp = t.get(259, [1])[0]
    photo = t.get(262, [1])[0]
    rps = t.get(278, [h])[0] or h
    planar = t.get(284, [1])[0]
    predictor = t.get(317, [1])[0]
    if planar != 1:
        raise NotImplementedError("TIFF: PlanarConfiguration 2 unsupported")
    if tiled and photo == 3:
        raise NotImplementedError("TIFF: tiled palette images unsupported")
    if any(b != 8 for b in bps) and photo != 3:
        raise NotImplementedError(f"TIFF: only 8-bit samples supported (got {bps})")
    if photo == 3 and any(b not in (4, 8) for b in bps):
        raise NotImplementedError("TIFF: palette bit depth must be 4 or 8")
    if comp not in (1, 5, 8, 32773, 32946):
        raise NotImplementedError(f"TIFF: compression {comp} unsupported")
    if photo not in (0, 1, 2, 3):
        raise NotImplementedError(f"TIFF: photometric {photo} unsupported")

    def decompress(data, n_bytes):
        if comp == 1:
            if len(data) < n_bytes:
                raise ValueError("TIFF strip/tile truncated")
            return data[:n_bytes]
        if comp == 5:
            return _tlzw_decode(data, n_bytes)
        if comp in (8, 32946):
            import zlib

            try:
                inflated = zlib.decompress(data)
            except zlib.error as exc:
                raise ValueError(f"TIFF deflate strip corrupt: {exc}")
            if len(inflated) < n_bytes:
                raise ValueError("TIFF deflate strip truncated")
            return inflated[:n_bytes]
        return _packbits_decode(data, n_bytes)

    if tiled:
        # tile grid: every tile is stored at FULL tile size (spec §15);
        # edge tiles carry padding that assembly crops away. Predictor 2
        # differencing restarts at each tile's left edge, so it must be
        # undone per tile BEFORE assembly, not on the stitched raster.
        tw = t.get(322, [0])[0]
        tl = t.get(323, [0])[0]
        if tw <= 0 or tl <= 0 or tw % 16 or tl % 16:
            raise ValueError("TIFF: tile dimensions must be positive multiples of 16")
        across = (w + tw - 1) // tw
        down = (h + tl - 1) // tl
        if len(offsets) < across * down:
            raise ValueError("TIFF: tile count does not cover the image")
        canvas = np.zeros((h, w, spp), dtype=np.uint8)
        for ti, (soff, scount) in enumerate(zip(offsets, counts)):
            ty, tx = divmod(ti, across)
            if ty >= down:
                break
            tile = decompress(buf[soff : soff + scount], tw * tl * spp)
            a = np.frombuffer(tile, dtype=np.uint8).reshape(tl, tw, spp)
            if predictor == 2:
                a = np.cumsum(a.astype(np.uint32), axis=1).astype(np.uint8)
            elif predictor != 1:
                raise NotImplementedError(f"TIFF: predictor {predictor} unsupported")
            y0, x0 = ty * tl, tx * tw
            ys, xs = min(tl, h - y0), min(tw, w - x0)
            canvas[y0 : y0 + ys, x0 : x0 + xs] = a[:ys, :xs]
        if photo == 0:
            canvas = 255 - canvas
        return np.ascontiguousarray(canvas)

    raster = bytearray()
    row = 0
    for soff, scount in zip(offsets, counts):
        n_rows = min(rps, h - row)
        if n_rows <= 0:
            break
        if photo == 3 and bps[0] == 4:
            strip_bytes = ((w + 1) // 2) * n_rows
        else:
            strip_bytes = w * spp * n_rows
        raster += decompress(buf[soff : soff + scount], strip_bytes)
        row += n_rows

    if photo == 3:
        if 320 not in t:
            raise ValueError("TIFF palette image missing ColorMap")
        cmap = t[320]
        n = len(cmap) // 3
        pal = (
            np.array(cmap, dtype=np.uint16).reshape(3, n).T >> 8
        ).astype(np.uint8)  # 16-bit per spec → MSB downsample
        if bps[0] == 4:
            packed = np.frombuffer(bytes(raster), dtype=np.uint8).reshape(
                h, (w + 1) // 2
            )
            hi = packed >> 4
            lo = packed & 0x0F
            idx = np.empty((h, (w + 1) // 2 * 2), dtype=np.uint8)
            idx[:, 0::2] = hi
            idx[:, 1::2] = lo
            idx = idx[:, :w]
        else:
            idx = np.frombuffer(bytes(raster), dtype=np.uint8).reshape(h, w)
        if idx.max(initial=0) >= n:
            raise ValueError("TIFF palette index out of range")
        return np.ascontiguousarray(pal[idx])

    a = np.frombuffer(bytes(raster), dtype=np.uint8).reshape(h, w, spp)
    if predictor == 2:
        a = np.cumsum(a.astype(np.uint32), axis=1).astype(np.uint8)
    elif predictor != 1:
        raise NotImplementedError(f"TIFF: predictor {predictor} unsupported")
    if photo == 0:  # WhiteIsZero
        a = 255 - a[:, :, :1] if spp == 1 else 255 - a
    return np.ascontiguousarray(a)


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------
def encode_tiff(arr, compression: str = "lzw", predictor: bool = False,
                rows_per_strip: int | None = None, tiled: bool = False) -> bytes:
    """(h, w, 1|3|4) uint8 (or (h, w) gray) → little-endian TIFF.
    compression: 'none' | 'lzw' | 'deflate'.
    ``tiled=True`` emits a tile organization (tags 322-325, 16x16 tiles,
    edge tiles padded per spec §15, predictor applied per tile)."""
    import numpy as np

    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    if a.ndim != 3 or a.shape[2] not in (1, 3, 4):
        raise ValueError("encode_tiff expects (h, w[, 1|3|4]) uint8")
    h, w, spp = a.shape
    if compression not in ("none", "lzw", "deflate"):
        raise NotImplementedError(f"encode_tiff: compression {compression!r}")
    photo = 1 if spp == 1 else 2

    def pack_block(block):
        if predictor:
            b16 = block.astype(np.int16)
            diff = b16.copy()
            diff[:, 1:] = b16[:, 1:] - b16[:, :-1]
            block = diff.astype(np.uint8)
        raw = block.tobytes()
        if compression == "lzw":
            return _tlzw_encode(raw)
        if compression == "deflate":
            import zlib

            return zlib.compress(raw, 6)
        return raw

    tw = tl = 16
    blocks = []
    if tiled:
        for ty in range(0, h, tl):
            for tx in range(0, w, tw):
                tile = np.zeros((tl, tw, spp), dtype=np.uint8)
                part = a[ty : ty + tl, tx : tx + tw]
                tile[: part.shape[0], : part.shape[1]] = part
                blocks.append(pack_block(tile))
        rps = None
    else:
        rps = rows_per_strip or h
        for r0 in range(0, h, rps):
            blocks.append(pack_block(a[r0 : r0 + rps]))

    # ImageWidth/ImageLength/RowsPerStrip may be SHORT or LONG (TIFF 6.0
    # §4); promote to LONG past 65535 so >64k-row images encode cleanly
    def dim_type(v):
        return 3 if v <= 0xFFFF else 4

    comp_code = {"lzw": 5, "deflate": 8, "none": 1}[compression]
    off_tag, cnt_tag = (324, 325) if tiled else (273, 279)
    tags = [
        (256, dim_type(w), 1, w),
        (257, dim_type(h), 1, h),
        (258, 3, spp, None),  # BitsPerSample
        (259, 3, 1, comp_code),
        (262, 3, 1, photo),
        (off_tag, 4, len(blocks), None),  # Strip/TileOffsets
        (277, 3, 1, spp),
        (cnt_tag, 4, len(blocks), None),  # Strip/TileByteCounts
    ]
    if tiled:
        tags += [(322, 3, 1, tw), (323, 3, 1, tl)]
    else:
        tags.append((278, dim_type(rps), 1, rps))
    if predictor:
        tags.append((317, 3, 1, 2))
    if spp == 4:
        tags.append((338, 3, 1, 2))  # ExtraSamples: unassociated alpha
    tags.sort()

    # layout: header(8) | IFD | out-of-line values | data blocks
    ifd_size = 2 + 12 * len(tags) + 4
    extra = bytearray()
    extra_base = 8 + ifd_size

    def place(fmt, vals):
        off = extra_base + len(extra)
        extra.extend(struct.pack("<" + fmt, *vals))
        return off

    bits_off = place(f"{spp}H", [8] * spp) if spp > 2 else None
    # reserve offset/count arrays when out-of-line (count > 1)
    if len(blocks) > 1:
        soff_off = extra_base + len(extra)
        extra.extend(b"\x00" * (4 * len(blocks)))
        scnt_off = extra_base + len(extra)
        extra.extend(b"\x00" * (4 * len(blocks)))
    data_base = extra_base + len(extra)
    offsets = []
    pos = data_base
    for s in blocks:
        offsets.append(pos)
        pos += len(s)
    if len(blocks) > 1:
        struct.pack_into(f"<{len(blocks)}I", extra, soff_off - extra_base, *offsets)
        struct.pack_into(
            f"<{len(blocks)}I", extra, scnt_off - extra_base, *[len(s) for s in blocks]
        )

    out = bytearray(b"II*\x00" + struct.pack("<I", 8))
    out += struct.pack("<H", len(tags))
    for tag, typ, count, val in tags:
        if tag == 258:
            v = 8 if spp == 1 else bits_off
            if spp == 2:
                raise ValueError("unreachable")
        elif tag == off_tag:
            v = offsets[0] if len(blocks) == 1 else soff_off
        elif tag == cnt_tag:
            v = len(blocks[0]) if len(blocks) == 1 else scnt_off
        else:
            v = val
        if typ == 3 and count == 1:
            out += struct.pack("<HHIHH", tag, typ, count, v, 0)
        else:
            out += struct.pack("<HHII", tag, typ, count, v)
    out += struct.pack("<I", 0)  # next IFD
    out += extra
    for s in blocks:
        out += s
    return bytes(out)
