"""Multimodal columns: images / audio / video as opaque binary + metadata.

Large-scale training pipelines carry media as ``binary`` columns with typed
metadata structs (the shape :func:`media_from_documents` builds). This
module provides the Spark-side plumbing — size-balanced partitioning and
Arrow-batched ``mapInPandas`` transforms with real batch shapes — around
pure stdlib + numpy decoders for binary PPM (P6), 8-bit PNG and 16-bit PCM
WAV. ``fake/*`` payloads (the oracle corpus, which carries no decodable
structure) go through a deterministic stub; any other format raises
``NotImplementedError``. The matching encoders and synthetic media tables
are test data and live with the tests.

Every transform keeps lineage columns intact and returns one row per input
row (or per sampled frame), so the operators compose with the dedup /
similarity stages (e.g. :func:`similarity.embedding_near_dup` over
:func:`extract_features`).
"""

from __future__ import annotations

import hashlib
import zlib
from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("content_sha", T.StringType()),
    ]
)

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_ms", T.IntegerType()),
        T.StructField("frame_sha", T.StringType()),
    ]
)

FEATURE_DIM = 16


def _fake_decode(content: bytes) -> np.ndarray:
    """Deterministic stand-in for a codec: bytes -> pseudo-pixel vector.

    Used for the synthetic ``fake/*`` protocol (the oracle corpus, where the
    payload carries no decodable structure); real byte formats go through
    :func:`decode_ppm` / :func:`decode_wav` below.
    """
    digest = hashlib.sha256(bytes(content)).digest()
    arr = np.frombuffer(digest, dtype=np.uint8).astype(np.float32)
    return (arr[:FEATURE_DIM] / 255.0).astype(np.float32)


# -- real decoders (pure stdlib + numpy: PPM P6 / PNG images, 16-bit PCM WAV) --


def decode_ppm(content: bytes) -> np.ndarray:
    """Parse a binary PPM (P6) image into an (h, w, 3) uint8 array.

    Real byte-format decoding with no third-party codec library: ASCII
    header ``P6 <width> <height> <maxval>`` (whitespace-separated, ``#``
    comments allowed), then width*height*3 raw bytes. 16-bit-per-sample
    images (maxval >= 256) are out of scope and raise.
    """
    buf = bytes(content)
    if not buf.startswith(b"P6"):
        raise ValueError("not a binary PPM (P6) payload")
    pos, vals = 2, []
    while len(vals) < 3:
        while pos < len(buf) and buf[pos : pos + 1].isspace():
            pos += 1
        if buf[pos : pos + 1] == b"#":
            while pos < len(buf) and buf[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(buf) and not buf[pos : pos + 1].isspace():
            pos += 1
        vals.append(int(buf[start:pos]))
    pos += 1  # exactly one whitespace byte separates maxval from raster data
    w, h, maxval = vals
    if maxval >= 256:
        raise NotImplementedError("16-bit-per-sample PPM is not supported")
    raster = np.frombuffer(buf, dtype=np.uint8, count=w * h * 3, offset=pos)
    return raster.reshape(h, w, 3)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def decode_png(content: bytes) -> np.ndarray:
    """Parse a non-interlaced 8-bit PNG into an (h, w, 3) uint8 array.

    Pure stdlib (zlib inflate + per-scanline unfiltering in numpy) — no
    third-party codec. Supported: bit depth 8, color types 0 (grayscale),
    2 (RGB), 4 (gray+alpha) and 6 (RGBA) — alpha is dropped, grayscale is
    replicated to 3 channels so every image feeds the same (h, w, 3)
    feature path as PPM. Interlaced (Adam7), paletted, and 16-bit images
    raise ``NotImplementedError`` (plug PIL in production for those).
    """
    buf = bytes(content)
    if not buf.startswith(_PNG_SIG):
        raise ValueError("not a PNG payload (bad signature)")
    pos, ihdr, idat = len(_PNG_SIG), None, []
    while pos + 8 <= len(buf):
        (length,) = np.frombuffer(buf, dtype=">u4", count=1, offset=pos)
        ctype = buf[pos + 4 : pos + 8]
        data = buf[pos + 8 : pos + 8 + int(length)]
        pos += 12 + int(length)  # length + type + data + crc
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("PNG payload missing IHDR/IDAT chunks")
    w, h = (int(x) for x in np.frombuffer(ihdr, dtype=">u4", count=2))
    bitdepth, colortype, _comp, _filt, interlace = ihdr[8:13]
    if interlace != 0:
        raise NotImplementedError("interlaced (Adam7) PNG is not supported")
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(colortype)
    if bitdepth != 8 or channels is None:
        raise NotImplementedError(
            f"PNG bitdepth={bitdepth} colortype={colortype} is not supported "
            "(8-bit gray/RGB/gray+alpha/RGBA only)"
        )
    raw = zlib.decompress(b"".join(idat))
    stride = w * channels
    if len(raw) < h * (stride + 1):
        raise ValueError("PNG raster truncated")
    rows = np.frombuffer(raw, dtype=np.uint8, count=h * (stride + 1)).reshape(h, stride + 1)
    filters, data = rows[:, 0], rows[:, 1:].astype(np.int32)
    out = np.zeros((h, stride), dtype=np.int32)
    bpp = channels  # bytes per pixel at bit depth 8
    for y in range(h):
        f, cur = int(filters[y]), data[y]
        prev = out[y - 1] if y else np.zeros(stride, dtype=np.int32)
        if f == 0:  # None
            out[y] = cur
        elif f == 2:  # Up
            out[y] = (cur + prev) & 0xFF
        else:  # Sub / Average / Paeth need the running left neighbor
            line = out[y]
            for x in range(stride):
                a = line[x - bpp] if x >= bpp else 0
                if f == 1:  # Sub
                    v = cur[x] + a
                elif f == 3:  # Average
                    v = cur[x] + ((a + prev[x]) >> 1)
                elif f == 4:  # Paeth
                    b, c = prev[x], (prev[x - bpp] if x >= bpp else 0)
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    v = cur[x] + pred
                else:
                    raise ValueError(f"PNG filter type {f} is invalid")
                line[x] = v & 0xFF
    px = out.astype(np.uint8).reshape(h, w, channels)
    if colortype == 0:
        px = np.repeat(px, 3, axis=2)
    elif colortype == 4:
        px = np.repeat(px[:, :, :1], 3, axis=2)
    elif colortype == 6:
        px = px[:, :, :3]
    return px


def decode_wav(content: bytes) -> tuple[int, np.ndarray]:
    """Parse a 16-bit PCM WAV into (sample_rate, (frames, channels) int16)."""
    import io
    import wave

    with wave.open(io.BytesIO(bytes(content))) as wf:
        if wf.getsampwidth() != 2:
            raise NotImplementedError("only 16-bit PCM WAV is supported")
        rate = wf.getframerate()
        nch = wf.getnchannels()
        raw = wf.readframes(wf.getnframes())
    return rate, np.frombuffer(raw, dtype="<i2").reshape(-1, nch)


def _block_means(flat: np.ndarray, dim: int) -> np.ndarray:
    """Mean of ``dim`` near-equal chunks of a 1-D float array (the cheap
    fixed-size signature a real feature extractor reduces to)."""
    if flat.size == 0:
        return np.zeros(dim, dtype=np.float32)
    return np.array(
        [chunk.mean() if chunk.size else 0.0 for chunk in np.array_split(flat, dim)],
        dtype=np.float32,
    )


def decode_image(content: bytes, format: Optional[str] = None) -> np.ndarray:
    """Dispatch: ``fake/*`` -> deterministic stub; PPM/WAV -> real byte
    decode reduced to a FEATURE_DIM float vector in [0, 1]; anything else
    raises (plug PIL / soundfile / av in here in production)."""
    fmt = str(format) if format is not None else ""
    buf = bytes(content)
    if fmt.startswith("fake/"):
        # the stub is OPT-IN via the format tag — an unrecognized payload
        # with no format must raise below, not silently produce sha noise
        # that near-dup math would then treat as real features
        return _fake_decode(content)
    if fmt in ("image/ppm", "ppm") or buf.startswith(b"P6"):
        gray = decode_ppm(buf).astype(np.float32).mean(axis=2) / 255.0
        return _block_means(gray.ravel(), FEATURE_DIM)
    if fmt in ("image/png", "png") or buf.startswith(_PNG_SIG):
        gray = decode_png(buf).astype(np.float32).mean(axis=2) / 255.0
        return _block_means(gray.ravel(), FEATURE_DIM)
    if fmt in ("audio/wav", "wav") or buf[:4] == b"RIFF":
        _rate, frames = decode_wav(buf)
        mono = frames.astype(np.float32).mean(axis=1) / 32768.0
        # per-chunk RMS energy: the standard cheap audio signature
        return np.sqrt(np.maximum(_block_means(mono * mono, FEATURE_DIM), 0.0)).astype(np.float32)
    raise NotImplementedError(
        f"real codec for format {format!r} is not available in this environment; "
        "plug a decoder in here (PIL.Image.open / soundfile / av)."
    )


def extract_features(media: DataFrame, batch_hint: int = 1024) -> DataFrame:
    """Arrow-batched feature extraction over size-balanced partitions.

    Partitions are rebalanced by content size so one partition of large
    videos does not straggle. The per-batch work is vectorized over the
    batch (single numpy stack per Arrow batch).
    """
    # hash repartition on media_id: it spreads bytes evenly in expectation.
    # (repartitionByRange on size was tried first and is WRONG here: equal
    # ROW counts of contiguous size ranges put all the huge payloads into
    # the top-range partition — the exact straggler it meant to avoid.)
    n = media.sparkSession.sparkContext.defaultParallelism * 2
    balanced = media.repartition(n, F.col("media_id"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            feats = [decode_image(c, m["format"] if m else None) for c, m in zip(pdf["content"], pdf["meta"])]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feature": [f.tolist() for f in feats],
                    "n_bytes": pdf["content"].map(len).astype("int32"),
                    "content_sha": pdf["content"].map(lambda b: hashlib.sha256(bytes(b)).hexdigest()),
                }
            )

    return balanced.mapInPandas(run, FEATURE_SCHEMA)


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame sampling for video/audio rows: one output row per sampled
    timestamp; the frame decode itself is the stubbed codec (frame_sha is
    the deterministic stand-in for frame pixels).

    The row->frames expansion is vectorized inside each Arrow batch
    (repeat/cumsum index arithmetic, no ``iterrows``); only the stub codec
    hash itself runs per frame, exactly like a real decoder would.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            durations = np.array(
                [int((m["duration_ms"] or 0) if m else 0) for m in pdf["meta"]], dtype=np.int64
            )
            counts = np.maximum(durations, 0) // every_ms + (np.maximum(durations, 0) % every_ms > 0)
            total = int(counts.sum())
            if total == 0:
                continue
            row_idx = np.repeat(np.arange(len(pdf)), counts)
            offsets = np.repeat(np.cumsum(counts) - counts, counts)
            frame_idx = (np.arange(total) - offsets).astype(np.int32)
            frame_ms = (frame_idx.astype(np.int64) * every_ms).astype(np.int32)
            contents = pdf["content"].to_numpy()
            fmts = [m["format"] if m else None for m in pdf["meta"]]
            # real PCM WAV payloads hash the ACTUAL sample window (decode
            # once per row, slice per frame); fake/* payloads keep the stub
            # hash sha256(content || '|' || ms) — the ASCII suffix keeps it
            # replicable in engines whose sha256 is string-typed (oracle
            # parity)
            decoded: dict[int, tuple[int, np.ndarray]] = {}
            shas = []
            for i, ms in zip(row_idx, frame_ms):
                buf = bytes(contents[i])
                if buf[:4] == b"RIFF" and not str(fmts[i]).startswith("fake/"):
                    if i not in decoded:
                        decoded[i] = decode_wav(buf)
                    rate, frames = decoded[i]
                    s0 = int(ms) * rate // 1000
                    s1 = (int(ms) + every_ms) * rate // 1000
                    shas.append(hashlib.sha256(frames[s0:s1].tobytes()).hexdigest())
                else:
                    shas.append(
                        hashlib.sha256(buf + b"|" + str(int(ms)).encode()).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy()[row_idx],
                    "frame_idx": frame_idx,
                    "frame_ms": frame_ms,
                    "frame_sha": shas,
                }
            )

    return media.filter(F.col("kind").isin("video", "audio")).mapInPandas(run, FRAME_SCHEMA)


def media_from_documents(docs: DataFrame, kind: str = "image") -> DataFrame:
    """Bridge: treat document text bytes as opaque media content so the
    multimodal plumbing can be exercised (and DuckDB-oracled) over the
    standard testdata. duration_ms derives deterministically from n_chars."""
    duration = (
        (F.col("n_chars") % 5).cast("int") * 1000 if kind in ("video", "audio") else F.lit(None).cast("int")
    )
    return docs.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("media_id"),
        F.lit(kind).alias("kind"),
        F.col("text").cast("binary").alias("content"),
        F.struct(
            F.lit(f"fake/{kind}").alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            duration.alias("duration_ms"),
            (F.lit(16000) if kind == "audio" else F.lit(None)).cast("int").alias("sample_rate"),
        ).alias("meta"),
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("thumb", T.ArrayType(T.IntegerType())),
    ]
)


def resize_media(media: DataFrame, width: int = 4, height: int = 4) -> DataFrame:
    """Resize: Arrow-batched ``mapInPandas`` producing a width×height
    thumbnail per row. PPM (P6) payloads go through the REAL decoder and a
    nearest-neighbor grayscale resample (actual pixel math); ``fake/*``
    payloads keep the deterministic sha-derived stub (the oracle corpus
    carries no decodable raster). The Spark-side shape (schema, batching,
    one row per input) is identical for both."""
    # the thumb always carries width*height values — truncating (an earlier
    # 32-value cap) while reporting the full requested dims broke any
    # consumer reshaping thumb to (height, width)
    dim = width * height

    def _thumb_bytes(content: bytes, fmt) -> list[int]:
        buf = bytes(content)
        is_ppm = buf.startswith(b"P6")
        is_png = buf.startswith(_PNG_SIG)
        if (is_ppm or is_png) and not str(fmt).startswith("fake/"):
            px = decode_ppm(buf) if is_ppm else decode_png(buf)
            h, w = px.shape[:2]
            ys = (np.arange(height) * h) // height
            xs = (np.arange(width) * w) // width
            small = px[ys][:, xs].astype(np.float32).mean(axis=2).round().astype(np.uint8)
            return [int(v) for v in small.ravel()]
        digest = hashlib.sha256(buf).digest()
        reps = -(-dim // len(digest))
        return [int(b) for b in (digest * reps)[:dim]]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            fmts = [m["format"] if m else None for m in pdf["meta"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "width": width,
                    "height": height,
                    "thumb": [_thumb_bytes(c, f) for c, f in zip(pdf["content"], fmts)],
                }
            )

    return media.mapInPandas(run, RESIZED_SCHEMA)
