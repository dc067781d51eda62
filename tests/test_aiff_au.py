"""The TIFF deflate leg, and the stats kernels' routing of WAV audio and
GIF/BMP/TIFF/ICO images (operators/tiff.py, operators/multimodal.py).

Policy as ever: exact roundtrips where lossless, and kernel rows checked
against values computed from the input arrays."""

import struct

import numpy as np


def test_tiff_deflate_roundtrip_and_legacy_code():
    from etl_for_dumdums_spark.operators.tiff import decode_tiff, encode_tiff

    rng = np.random.RandomState(6)
    img = rng.randint(0, 256, (15, 11, 3)).astype(np.uint8)
    for pred in (False, True):
        tif = encode_tiff(img, compression="deflate", predictor=pred, rows_per_strip=6)
        assert (decode_tiff(tif) == img).all()
    # legacy code 32946 decodes identically
    t = bytearray(encode_tiff(img, compression="deflate"))
    n = struct.unpack_from("<H", t, 8)[0]
    for i in range(n):
        base = 10 + 12 * i
        if struct.unpack_from("<H", t, base)[0] == 259:
            struct.pack_into("<H", t, base + 8, 32946)
    assert (decode_tiff(bytes(t)) == img).all()


def test_kernels_route_new_formats(spark):
    """pcm_stats decodes a WAV row to the same stats as its raw PCM16
    twin; rgb_stats decodes GIF/BMP/TIFF/ICO payloads instead of NULLing
    them."""
    from etl_for_dumdums_spark.operators.codecs import encode_wav
    from etl_for_dumdums_spark.operators.gif import encode_bmp, encode_gif, encode_ico
    from etl_for_dumdums_spark.operators.multimodal import (
        encode_pcm16,
        pcm_stats,
        rgb_stats,
    )
    from etl_for_dumdums_spark.operators.tiff import encode_tiff

    rng = np.random.RandomState(17)
    pcm = rng.randint(-30000, 30000, 300).astype(np.int16)
    audio = [
        (1, bytearray(encode_wav(pcm, 8000))),
        (2, bytearray(encode_pcm16(pcm, 8000))),
        (4, None),
    ]
    adf = spark.createDataFrame(audio, "media_id long, payload binary")
    arows = {r["media_id"]: r.asDict() for r in pcm_stats(adf).collect()}
    base = {k: v for k, v in arows[1].items() if k != "media_id"}
    assert base["rms_int"] is not None
    assert {k: v for k, v in arows[2].items() if k != "media_id"} == base
    assert arows[4]["rms_int"] is None

    img = (rng.randint(0, 4, (10, 12, 3)) * 80).astype(np.uint8)
    rgba = np.dstack([img, np.full((10, 12), 255, np.uint8)])
    images = [
        (1, bytearray(encode_gif(img))),
        (2, bytearray(encode_bmp(img))),
        (3, bytearray(encode_tiff(img))),
        (4, bytearray(encode_ico(rgba))),
    ]
    idf = spark.createDataFrame(images, "media_id long, payload binary")
    irows = {r["media_id"]: r.asDict() for r in rgb_stats(idf).collect()}
    exp_mean = float(img.reshape(-1, 3).mean(axis=0)[0])
    for mid in (1, 2, 3, 4):
        assert irows[mid]["dec_width"] == 12 and irows[mid]["dec_height"] == 10
        assert abs(irows[mid]["mean_r"] - exp_mean) < 1e-9
