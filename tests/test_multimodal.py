"""Multimodal plumbing tests: schemas, batch shapes, stubbed codec."""

import pytest
from pyspark.sql import functions as F

from biocypher_spark.multimodal import (
    FEATURE_DIM,
    decode_image,
    extract_features,
    sample_frames,
)
from fixtures.media import synthesize_media


def test_feature_extraction(spark):
    media = synthesize_media(spark, 20, kind="image")
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 20
    assert all(len(r["feature"]) == FEATURE_DIM for r in rows)
    assert all(0.0 <= v <= 1.0 for r in rows for v in r["feature"])
    # deterministic across runs
    again = {r["media_id"]: r["content_sha"] for r in extract_features(media).collect()}
    assert {r["media_id"]: r["content_sha"] for r in rows} == again


def test_codec_stub_raises_for_real_formats():
    # JPEG has no stdlib decoder — the production-plug point must raise
    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff\xe0...", format="image/jpeg")
    # a PNG-tagged payload with a broken signature is a loud ValueError,
    # not silent sha noise
    with pytest.raises(ValueError):
        decode_image(b"\x89PNG...", format="image/png")


def test_frame_sampling(spark):
    media = synthesize_media(spark, 4, kind="video")
    frames = sample_frames(media, every_ms=1000)
    rows = frames.collect()
    # 4000ms duration -> 4 frames each
    assert len(rows) == 16
    per = {}
    for r in rows:
        per.setdefault(r["media_id"], []).append(r["frame_ms"])
    assert all(sorted(v) == [0, 1000, 2000, 3000] for v in per.values())


def test_resize_media_plumbing(spark):
    from biocypher_spark.multimodal import resize_media
    from fixtures.media import synthesize_media

    media = synthesize_media(spark, 6, kind="image")
    out = resize_media(media, width=4, height=4).collect()
    assert len(out) == 6  # one row per input
    for r in out:
        assert r["width"] == 4 and r["height"] == 4
        assert len(r["thumb"]) == 16
        assert all(0 <= px <= 255 for px in r["thumb"])
    # deterministic: identical content -> identical thumbnail
    again = {r["media_id"]: r["thumb"] for r in resize_media(media, 4, 4).collect()}
    assert all(again[r["media_id"]] == r["thumb"] for r in out)


# -- real codecs (PPM / WAV, pure stdlib) -------------------------------------


def test_ppm_roundtrip_and_parser():
    import numpy as np

    from biocypher_spark.multimodal import decode_ppm
    from fixtures.media import encode_ppm

    px = (np.arange(5 * 4 * 3, dtype=np.uint8)).reshape(4, 5, 3)
    assert (decode_ppm(encode_ppm(px)) == px).all()
    # header variations: comments and extra whitespace
    raw = b"P6\n# a comment\n 5  4\n255\n" + px.tobytes()
    assert (decode_ppm(raw) == px).all()
    with pytest.raises(ValueError):
        decode_ppm(b"P3\n1 1\n255\n000")
    with pytest.raises(NotImplementedError):
        decode_ppm(b"P6\n1 1\n65535\n" + b"\x00" * 6)


def test_wav_roundtrip():
    import numpy as np

    from biocypher_spark.multimodal import decode_wav
    from fixtures.media import encode_wav

    samples = (np.sin(np.linspace(0, 20, 800)) * 10000).astype("<i2")
    rate, frames = decode_wav(encode_wav(samples, 8000))
    assert rate == 8000
    assert (frames[:, 0] == samples).all()


def test_real_image_features(spark):
    import numpy as np

    from fixtures.media import encode_ppm, synthesize_real_media

    media = synthesize_real_media(spark, 10, kind="image")
    feats = extract_features(media).collect()
    assert len(feats) == 10
    assert all(len(r["feature"]) == FEATURE_DIM for r in feats)
    # features are real pixel statistics: an all-black vs all-white image
    black = decode_image(encode_ppm(np.zeros((4, 4, 3), dtype=np.uint8)), "image/ppm")
    white = decode_image(encode_ppm(np.full((4, 4, 3), 255, dtype=np.uint8)), "image/ppm")
    assert black.max() == 0.0 and abs(white.min() - 1.0) < 1e-6


def test_real_audio_features_and_frames(spark):
    from fixtures.media import synthesize_real_media

    media = synthesize_real_media(spark, 6, kind="audio")
    feats = extract_features(media).collect()
    assert len(feats) == 6
    # RMS of a +/-12000-amplitude sine is ~0.26 of full scale, nonzero in
    # every chunk
    assert all(min(r["feature"]) > 0.1 for r in feats)
    frames = sample_frames(media, every_ms=1000).collect()
    # durations 1500/2200/2900 -> ceil = 2/3/3 frames, two rows of each
    assert len(frames) == 2 * (2 + 3 + 3)
    # real windows: distinct sample slices hash differently
    by_media = {}
    for r in frames:
        by_media.setdefault(r["media_id"], set()).add(r["frame_sha"])
    assert all(len(v) > 1 for v in by_media.values())


def test_real_image_resize(spark):
    import numpy as np

    from biocypher_spark.multimodal import resize_media
    from fixtures.media import synthesize_real_media

    media = synthesize_real_media(spark, 5, kind="image")
    out = {r["media_id"]: r for r in resize_media(media, width=4, height=4).collect()}
    assert len(out) == 5
    # verify one thumbnail against a direct numpy resample of the source
    from biocypher_spark.multimodal import decode_ppm

    src = media.filter(F.col("media_id") == "i0").collect()[0]
    px = decode_ppm(bytes(src["content"]))
    h, w = px.shape[:2]
    ys = (np.arange(4) * h) // 4
    xs = (np.arange(4) * w) // 4
    expect = px[ys][:, xs].astype(np.float32).mean(axis=2).round().astype(np.uint8).ravel()
    assert list(out["i0"]["thumb"]) == [int(v) for v in expect]


def test_decode_unknown_payload_raises():
    """The sha stub is opt-in via format='fake/*'; an unrecognized payload
    with no format tag must raise, not silently produce sha noise."""
    import pytest as _pytest

    from biocypher_spark.multimodal import decode_image

    with _pytest.raises(NotImplementedError):
        decode_image(b"GIF89a....", None)
    # a PNG-signature payload with no valid chunks is a loud parse error
    with _pytest.raises(ValueError):
        decode_image(b"\x89PNG\r\n\x1a\n....", None)


def test_resize_thumb_carries_full_dims(spark):
    from biocypher_spark.multimodal import media_from_documents, resize_media

    docs = spark.createDataFrame([(1, "hello world " * 10)], "doc_id long, text string")
    media = media_from_documents(docs)
    rows = resize_media(media, width=8, height=8).collect()
    assert rows and all(len(r["thumb"]) == 64 for r in rows)


# -- PNG codec (stdlib zlib + numpy unfiltering) ------------------------------


def _png_pixels(h=6, w=8, seed=3):
    import numpy as np

    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack(
        [(yy * 13 + seed) % 256, (xx * 29 + seed * 5) % 256, (yy * xx + seed) % 256],
        axis=2,
    ).astype(np.uint8)


def _build_png(px, colortype, filter_type):
    """Reference PNG builder applying the spec's filter math FORWARD for a
    single filter type on every scanline — the decoder's unfilter pass must
    invert it exactly (PNG spec §6: Sub/Up/Average/Paeth)."""
    import binascii
    import struct
    import zlib

    import numpy as np

    channels = {0: 1, 2: 3, 4: 2, 6: 4}[colortype]
    h, w = px.shape[:2]
    data = px.astype(np.int32)
    bpp = channels
    stride = w * channels
    flat = data.reshape(h, stride)
    raster = bytearray()
    for y in range(h):
        row = flat[y]
        prev = flat[y - 1] if y else np.zeros(stride, dtype=np.int32)
        out = np.zeros(stride, dtype=np.int32)
        for x in range(stride):
            a = row[x - bpp] if x >= bpp else 0
            b = prev[x]
            c = prev[x - bpp] if x >= bpp else 0
            if filter_type == 0:
                out[x] = row[x]
            elif filter_type == 1:
                out[x] = row[x] - a
            elif filter_type == 2:
                out[x] = row[x] - b
            elif filter_type == 3:
                out[x] = row[x] - ((a + b) >> 1)
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                out[x] = row[x] - pred
        raster.append(filter_type)
        raster.extend((out & 0xFF).astype(np.uint8).tobytes())

    def chunk(ctype, payload):
        return (
            struct.pack(">I", len(payload))
            + ctype
            + payload
            + struct.pack(">I", binascii.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, colortype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raster)))
        + chunk(b"IEND", b"")
    )


def test_png_roundtrip():
    import numpy as np

    from biocypher_spark.multimodal import decode_png
    from fixtures.media import encode_png

    px = _png_pixels()
    assert np.array_equal(decode_png(encode_png(px)), px)


def test_png_all_filter_types_unfilter_exactly():
    import numpy as np

    from biocypher_spark.multimodal import decode_png

    px = _png_pixels(h=5, w=7, seed=9)
    for f in range(5):
        got = decode_png(_build_png(px, colortype=2, filter_type=f))
        assert np.array_equal(got, px), f"filter {f} round-trip mismatch"


def test_png_colortypes_normalize_to_rgb():
    import numpy as np

    from biocypher_spark.multimodal import decode_png

    rgb = _png_pixels(h=4, w=5, seed=1)
    gray = rgb[:, :, :1]
    # grayscale -> replicated channels
    got = decode_png(_build_png(gray, colortype=0, filter_type=2))
    assert np.array_equal(got, np.repeat(gray, 3, axis=2))
    # gray+alpha -> alpha dropped, gray replicated
    ga = np.concatenate([gray, np.full_like(gray, 200)], axis=2)
    got = decode_png(_build_png(ga, colortype=4, filter_type=4))
    assert np.array_equal(got, np.repeat(gray, 3, axis=2))
    # RGBA -> alpha dropped
    rgba = np.concatenate([rgb, np.full_like(gray, 77)], axis=2)
    got = decode_png(_build_png(rgba, colortype=6, filter_type=1))
    assert np.array_equal(got, rgb)


def test_png_unsupported_shapes_raise():
    import struct

    import pytest as _pytest

    from biocypher_spark.multimodal import decode_png

    px = _png_pixels(h=3, w=3)
    good = _build_png(px, colortype=2, filter_type=0)
    # flip the interlace byte inside IHDR (offset: 8 sig + 8 chunk hdr + 12)
    interlaced = bytearray(good)
    interlaced[8 + 8 + 12] = 1
    with _pytest.raises(NotImplementedError):
        decode_png(bytes(interlaced))
    # 16-bit depth
    deep = bytearray(good)
    deep[8 + 8 + 8] = 16
    with _pytest.raises(NotImplementedError):
        decode_png(bytes(deep))
    # paletted (colortype 3)
    pal = bytearray(good)
    pal[8 + 8 + 9] = 3
    with _pytest.raises(NotImplementedError):
        decode_png(bytes(pal))
    with _pytest.raises(ValueError):
        decode_png(b"not a png at all")


def test_png_feature_and_resize_dispatch(spark):
    import numpy as np

    from biocypher_spark.multimodal import FEATURE_DIM, decode_image, resize_media
    from fixtures.media import encode_png, encode_ppm, synthesize_real_media

    # identical pixels through PPM and PNG must produce identical features
    px = _png_pixels(h=6, w=8, seed=4)
    f_ppm = decode_image(encode_ppm(px), "image/ppm")
    f_png = decode_image(encode_png(px), "image/png")
    assert np.allclose(f_ppm, f_png)
    assert len(f_png) == FEATURE_DIM

    # mixed-format table flows through the same Arrow feature/resize path
    media = synthesize_real_media(spark, 8, kind="image", image_format="mixed")
    feats = extract_features(media).collect()
    assert len(feats) == 8
    thumbs = {r["media_id"]: r["thumb"] for r in resize_media(media, 4, 4).collect()}
    assert all(len(t) == 16 for t in thumbs.values())
    # PPM row i and PNG row i+... have different pixels, but each PNG thumb
    # must come from REAL pixel math, matching a direct decode+resample
    from biocypher_spark.multimodal import decode_png

    row = media.filter("media_id = 'i1'").collect()[0]  # i1 is PNG in mixed mode
    px = decode_png(bytes(row["content"]))
    h, w = px.shape[:2]
    ys = (np.arange(4) * h) // 4
    xs = (np.arange(4) * w) // 4
    expect = px[ys][:, xs].astype(np.float32).mean(axis=2).round().astype(np.uint8).ravel()
    assert list(thumbs["i1"]) == [int(v) for v in expect]
