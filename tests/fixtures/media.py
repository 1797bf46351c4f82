"""Synthetic media tables in the engine's media shape, and the PPM / PNG /
WAV encoders (the inverses of `biocypher_spark.multimodal`'s decoders)."""

from __future__ import annotations

import zlib

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from biocypher_spark.multimodal import _PNG_SIG

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("content", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("format", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                    T.StructField("sample_rate", T.IntegerType()),
                ]
            ),
        ),
    ]
)


def synthesize_media(spark: SparkSession, n: int, kind: str = "image") -> DataFrame:
    """Deterministic fake media table (content = compressed seeded bytes)."""
    rows = []
    for i in range(n):
        payload = zlib.compress((f"{kind}-{i}-" * 32).encode())
        rows.append(
            (
                f"{kind[0]}{i}",
                kind,
                bytearray(payload),
                (f"fake/{kind}", 64, 64, 4000 if kind != "image" else None, 16000 if kind == "audio" else None),
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def synthesize_real_media(
    spark: SparkSession, n: int, kind: str = "image", image_format: str = "ppm"
) -> DataFrame:
    """Deterministic media table whose payloads are REAL byte formats
    (binary PPM or PNG images / 16-bit PCM WAV audio), exercising the
    actual codecs end-to-end rather than the ``fake/*`` stub protocol.
    ``image_format``: "ppm" (default — the oracle corpus shape), "png",
    or "mixed" (alternating, for dispatch tests)."""
    rows = []
    for i in range(n):
        if kind == "image":
            w, h = 8 + (i % 5), 6 + (i % 3)
            yy, xx = np.mgrid[0:h, 0:w]
            px = np.stack(
                [(yy * 17 + i) % 256, (xx * 31 + i * 7) % 256, (yy * xx + i * 3) % 256],
                axis=2,
            ).astype(np.uint8)
            use_png = image_format == "png" or (image_format == "mixed" and i % 2 == 1)
            if use_png:
                content, meta = encode_png(px), ("image/png", w, h, None, None)
            else:
                content, meta = encode_ppm(px), ("image/ppm", w, h, None, None)
        else:
            rate = 8000
            dur_ms = 1500 + (i % 3) * 700
            t = np.arange(rate * dur_ms // 1000, dtype=np.float64)
            wave_f = np.sin(2 * np.pi * (220 + 20 * (i % 8)) * t / rate) * 12000
            content, meta = encode_wav(wave_f.astype("<i2"), rate), ("audio/wav", None, None, dur_ms, rate)
        rows.append((f"{kind[0]}{i}", kind if kind == "image" else "audio", bytearray(content), meta))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def encode_ppm(pixels: np.ndarray) -> bytes:
    """Serialize an (h, w, 3) uint8 array as binary PPM (P6)."""
    h, w, _ = pixels.shape
    return b"P6\n%d %d\n255\n" % (w, h) + np.ascontiguousarray(pixels, dtype=np.uint8).tobytes()


def encode_png(pixels: np.ndarray) -> bytes:
    """Serialize an (h, w, 3) uint8 array as a non-interlaced 8-bit RGB PNG
    (filter type 0 on every scanline, single zlib-compressed IDAT)."""
    import binascii
    import struct

    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    h, w, channels = px.shape
    if channels != 3:
        raise ValueError("encode_png expects an (h, w, 3) RGB array")

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", binascii.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raster = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), px.reshape(h, w * 3)], axis=1
    ).tobytes()
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raster))
        + chunk(b"IEND", b"")
    )


def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """Serialize an int16 (frames,) or (frames, channels) array as PCM WAV."""
    import io
    import wave

    arr = np.asarray(samples, dtype="<i2")
    if arr.ndim == 1:
        arr = arr[:, None]
    out = io.BytesIO()
    with wave.open(out, "wb") as wf:
        wf.setnchannels(arr.shape[1])
        wf.setsampwidth(2)
        wf.setframerate(sample_rate)
        wf.writeframes(np.ascontiguousarray(arr).tobytes())
    return out.getvalue()
