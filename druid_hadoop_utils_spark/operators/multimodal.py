"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata, with Arrow-batched processing plumbing.

Decode posture (no media libraries ship in this environment, so every
real path is dependency-free or optional): PNG images decode natively
(stdlib zlib — ``_decode_png``), WAV/PCM audio decodes natively (stdlib
``wave`` — ``decode_audio``), Pillow takes over for other image formats
WHEN installed, and everything else raises a loud ``NotImplementedError``.
``fake=True`` keeps the deterministic pseudo-decoders so the Spark-side
plumbing — schema, batching, ``mapInPandas`` signatures, partitioning —
is testable with no media at all.

Design for 100 TB of media:

- media rides as one ``binary`` column next to a metadata struct; Parquet
  stores it page-compressed and column pruning means metadata-only queries
  never read the bytes;
- per-record work happens in ``mapInPandas`` (Arrow batches, zero-copy into
  pandas) with batch size controlled by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` — never per-row Python;
- outputs are fixed-size feature vectors / resized blobs, so downstream
  joins/aggs stay columnar.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from druid_hadoop_utils_spark.session import local_frame

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("content", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("format", StringType()),
                    StructField("width", IntegerType()),
                    StructField("height", IntegerType()),
                    StructField("duration_ms", IntegerType()),
                ]
            ),
        ),
    ]
)

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sha256", StringType()),
        StructField("n_bytes", LongType()),
        StructField("features", ArrayType(FloatType())),
    ]
)


PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _decode_png(data: bytes) -> "Any":
    """Dependency-free PNG decode (stdlib ``zlib`` + ``struct``) to an
    HxWx3 uint8 array: 8-bit depth, color types greyscale(0) /
    truecolor(2) / grey+alpha(4) / RGBA(6), all five scanline filters,
    non-interlaced — the overwhelmingly common subset. Filters 1/3/4
    unfilter with per-byte loops (correct, not vectorized) — this is the
    portable fallback; Pillow, when installed, takes precedence for
    speed and format breadth."""
    import struct
    import zlib

    if not data.startswith(PNG_MAGIC):
        raise ValueError("not a PNG (bad magic)")
    pos, idat = 8, b""
    w = h = bitd = ctype = interlace = None
    while pos + 8 <= len(data):
        ln, typ = struct.unpack(">I4s", data[pos:pos + 8])
        pos += 8
        chunk = data[pos:pos + ln]
        pos += ln + 4  # skip CRC
        if typ == b"IHDR":
            w, h, bitd, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", chunk)
        elif typ == b"IDAT":
            idat += chunk
        elif typ == b"IEND":
            break
    if bitd != 8 or interlace != 0 or ctype not in (0, 2, 4, 6):
        raise ValueError(
            f"unsupported PNG shape (bitdepth={bitd}, colortype={ctype}, "
            f"interlace={interlace}) — install Pillow for full coverage"
        )
    channels = {0: 1, 2: 3, 4: 2, 6: 4}[ctype]
    raw = zlib.decompress(idat)
    stride = w * channels
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    rp = 0
    for y in range(h):
        f = raw[rp]
        rp += 1
        cur = np.frombuffer(raw[rp:rp + stride], dtype=np.uint8).copy()
        rp += stride
        if f == 1:  # Sub
            for i in range(channels, stride):
                cur[i] = (int(cur[i]) + int(cur[i - channels])) & 0xFF
        elif f == 2:  # Up (uint8 addition wraps mod 256)
            cur = cur + prev
        elif f == 3:  # Average
            for i in range(stride):
                left = int(cur[i - channels]) if i >= channels else 0
                cur[i] = (int(cur[i]) + ((left + int(prev[i])) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = int(cur[i - channels]) if i >= channels else 0
                b = int(prev[i])
                c = int(prev[i - channels]) if i >= channels else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[i] = (int(cur[i]) + pr) & 0xFF
        elif f != 0:
            raise ValueError(f"unknown PNG filter {f}")
        out[y] = cur
        prev = cur
    img = out.reshape(h, w, channels)
    if ctype == 0:
        return np.repeat(img, 3, axis=2)
    if ctype == 4:
        return np.repeat(img[:, :, :1], 3, axis=2)
    if ctype == 6:
        return np.ascontiguousarray(img[:, :, :3])
    return img


def decode_image(content: bytes, fake: bool = False) -> "Any":
    """Decode an image blob to an HxWx3 uint8 array.

    ``fake=True`` returns a deterministic pseudo-image derived from the
    bytes' sha256 so downstream plumbing is testable without media
    libraries. The real path tries Pillow first (optional dependency —
    it rides to executors inside the UDF closure's import); PNGs decode
    WITHOUT any dependency via the stdlib-only ``_decode_png``; anything
    else raises a loud ``NotImplementedError`` naming the options.
    """
    if fake:
        digest = hashlib.sha256(content or b"").digest()
        rng = np.random.RandomState(np.frombuffer(digest[:4], dtype=np.uint32)[0])
        return rng.randint(0, 256, size=(8, 8, 3), dtype=np.uint8)
    try:
        from PIL import Image  # optional dependency, absent in this env

        import io

        with Image.open(io.BytesIO(content)) as img:
            return np.asarray(img.convert("RGB"), dtype=np.uint8)
    except ImportError:
        pass
    if content[:8] == PNG_MAGIC:
        return _decode_png(content)
    raise NotImplementedError(
        "non-PNG image decoding requires Pillow (pip install Pillow); "
        "PNGs decode natively, and fake=True gives the deterministic "
        "test decoder"
    )


def image_features(df: DataFrame, fake: bool = True, feature_dim: int = 16) -> DataFrame:
    """Extract per-image features via Arrow-batched mapInPandas.

    The feature kernel is the stub decoder + an 8x8 mean-pool flatten; with
    a real decoder only ``decode_image`` changes — the distributed plumbing
    (schema, batching, partition behavior) is identical.
    """

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                blob = bytes(content) if content is not None else b""
                img = decode_image(blob, fake=fake).astype(np.float32)
                pooled = img.mean(axis=2).flatten()[:feature_dim] / 255.0
                out.append(
                    {
                        "media_id": media_id,
                        "sha256": hashlib.sha256(blob).hexdigest(),
                        "n_bytes": len(blob),
                        "features": pooled.tolist(),
                    }
                )
            yield pd.DataFrame(out, columns=[f.name for f in IMAGE_FEATURES_SCHEMA.fields])

    return df.select("media_id", "content").mapInPandas(compute, IMAGE_FEATURES_SCHEMA)


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Plan frame-sampling work for video rows WITHOUT decoding: expand each
    video into (media_id, frame_ts_ms) rows from metadata only — pure
    Catalyst (sequence + explode), no Python, no byte reads (column pruning
    keeps ``content`` out of the scan)."""
    return (
        df.where(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.col("meta.duration_ms") - 1, F.lit(0)),
                    F.lit(every_ms),
                )
            ).alias("frame_ts_ms"),
        )
    )


MEDIA_DIMS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)


def media_dimensions(df: DataFrame, fake: bool = False) -> DataFrame:
    """Intrinsic dimensions FROM THE BYTES, per blob: images decode to
    (width, height), audio to duration_ms (sample count / rate); the
    other columns are NULL per kind. Arrow-batched ``mapInPandas`` like
    every decode operator.

    The training-pipeline use case is metadata VERIFICATION/BACKFILL at
    scale: declared ``meta`` columns in a crawled corpus lie (wrong
    dims, truncated audio) — this recomputes the truth from content so
    a join against ``meta`` flags the liars, or fills a corpus whose
    metadata was never populated. The battery's q_media_decode_dims
    runs it against the managed media table and lets the DuckDB oracle
    read the SAME published parquet's ``meta`` struct — decoded dims ==
    declared dims, a value-level cross-check of the real decoders."""

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for media_id, kind, content in zip(
                    pdf["media_id"], pdf["kind"], pdf["content"]):
                blob = bytes(content) if content is not None else b""
                width = height = duration = None
                if kind == "image":
                    img = decode_image(blob, fake=fake)
                    height, width = int(img.shape[0]), int(img.shape[1])
                elif kind == "audio":
                    wave, rate = decode_audio(blob, fake=fake)
                    duration = int(round(len(wave) / rate * 1000.0))
                out.append({
                    "media_id": media_id, "kind": kind, "width": width,
                    "height": height, "duration_ms": duration,
                })
            yield pd.DataFrame(
                out, columns=[f.name for f in MEDIA_DIMS_SCHEMA.fields])

    return df.select("media_id", "kind", "content").mapInPandas(
        compute, MEDIA_DIMS_SCHEMA)


def media_stats(df: DataFrame) -> DataFrame:
    """Metadata-only stats: touches ONLY ``kind`` and ``meta``, so column
    pruning keeps the ``content`` blobs out of the parquet scan entirely
    (check ReadSchema in .explain — pinned by tests)."""
    return df.groupBy("kind").agg(
        F.count("*").alias("n"),
        F.avg(F.col("meta.width") * F.col("meta.height")).alias("avg_pixels"),
        F.avg("meta.duration_ms").alias("avg_duration_ms"),
    )


def media_byte_stats(df: DataFrame) -> DataFrame:
    """Byte-level stats: necessarily READS every blob (``length(content)``
    cannot come from metadata) — keep it a separate, deliberate full-scan
    pass rather than a rider on ``media_stats``."""
    return df.groupBy("kind").agg(
        F.count("*").alias("n"),
        F.sum(F.length("content")).alias("total_bytes"),
        F.avg(F.length("content")).alias("avg_bytes"),
    )


AUDIO_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sha256", StringType()),
        StructField("n_bytes", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("duration_s", FloatType()),
        StructField("rms", FloatType()),
        StructField("zero_crossing_rate", FloatType()),
        StructField("spectral_centroid_hz", FloatType()),
    ]
)


def decode_audio(content: bytes, fake: bool = False):
    """Decode an audio blob to (mono float32 waveform in [-1, 1],
    sample_rate). WAV/PCM decodes with ZERO dependencies (stdlib ``wave``
    + numpy): 8/16/32-bit integer PCM, any channel count (averaged to
    mono). Other containers raise a loud ``NotImplementedError`` — the
    same optional-dependency posture as image decode.

    ``fake=True`` returns a deterministic pseudo-waveform from the bytes'
    sha256, keeping the distributed plumbing testable with no media."""
    if fake:
        digest = hashlib.sha256(content or b"").digest()
        rng = np.random.RandomState(np.frombuffer(digest[:4], dtype=np.uint32)[0])
        return rng.uniform(-1, 1, size=800).astype(np.float32), 8000
    import io
    import wave

    try:
        with wave.open(io.BytesIO(content)) as w:
            rate = w.getframerate()
            nch = w.getnchannels()
            width = w.getsampwidth()
            frames = w.readframes(w.getnframes())
    except (wave.Error, EOFError) as e:
        raise NotImplementedError(
            "only WAV/PCM decodes natively (stdlib wave); install an "
            "audio library for other containers, or use fake=True"
        ) from e
    if width == 1:
        # 8-bit WAV is unsigned
        x = np.frombuffer(frames, dtype=np.uint8).astype(np.float32)
        x = (x - 128.0) / 128.0
    elif width == 2:
        x = np.frombuffer(frames, dtype="<i2").astype(np.float32) / 32768.0
    elif width == 4:
        x = np.frombuffer(frames, dtype="<i4").astype(np.float32) / 2147483648.0
    else:
        raise NotImplementedError(f"unsupported WAV sample width {width}")
    if nch > 1:
        x = x.reshape(-1, nch).mean(axis=1)
    return x, rate


def audio_features(df: DataFrame, fake: bool = False) -> DataFrame:
    """Per-clip audio features via Arrow-batched mapInPandas: duration,
    RMS level, zero-crossing rate, and spectral centroid (numpy rFFT) —
    the standard cheap quality/speech-vs-noise signals, computed without
    any audio library for WAV inputs."""

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                blob = bytes(content) if content is not None else b""
                x, rate = decode_audio(blob, fake=fake)
                n = len(x)
                rms = float(np.sqrt(np.mean(x * x))) if n else 0.0
                zcr = (
                    float(np.mean(np.abs(np.diff(np.signbit(x))))) if n > 1 else 0.0
                )
                if n > 1:
                    spec = np.abs(np.fft.rfft(x))
                    freqs = np.fft.rfftfreq(n, d=1.0 / rate)
                    denom = spec.sum()
                    centroid = float((freqs * spec).sum() / denom) if denom else 0.0
                else:
                    centroid = 0.0
                out.append({
                    "media_id": media_id,
                    "sha256": hashlib.sha256(blob).hexdigest(),
                    "n_bytes": len(blob),
                    "sample_rate": int(rate),
                    "duration_s": float(n) / rate if rate else 0.0,
                    "rms": rms,
                    "zero_crossing_rate": zcr,
                    "spectral_centroid_hz": centroid,
                })
            yield pd.DataFrame(
                out, columns=[f.name for f in AUDIO_FEATURES_SCHEMA.fields])

    return df.select("media_id", "content").mapInPandas(
        compute, AUDIO_FEATURES_SCHEMA)


# ------------------------------------------------------------- synthesis
# Deterministic media synthesis: the testdata ships no media table, so
# these build REAL (decodable) PNG/WAV blobs from integer seeds — the
# battery's q_media_features runs the real decoders end-to-end over them
# and golden feature values are pinned in tests. Bounded, driver-side,
# documented: a handful of KB per blob, never used on data paths.


def synthesize_png(seed: int, width: int = 16, height: int = 16) -> bytes:
    """A real RGB PNG (via ``encode_png``) whose pixels are a
    deterministic function of ``seed`` — decodable by ``_decode_png``,
    Pillow, or any browser."""
    rng = np.random.RandomState(seed & 0x7FFFFFFF)
    return encode_png(
        rng.randint(0, 256, size=(height, width, 3), dtype=np.uint8))


def synthesize_wav(seed: int, rate: int = 8000, n_samples: int = 1600) -> bytes:
    """A real 16-bit mono PCM WAV (stdlib ``wave``): a seed-pitched sine
    with a little seeded noise — decodable by ``decode_audio`` or any
    audio tool."""
    import io
    import wave

    rng = np.random.RandomState(seed & 0x7FFFFFFF)
    freq = 200.0 + float(seed % 17) * 100.0
    t = np.arange(n_samples, dtype=np.float64) / rate
    x = 0.6 * np.sin(2 * np.pi * freq * t) + 0.05 * rng.standard_normal(n_samples)
    pcm = np.clip(x * 32767.0, -32768, 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(pcm.tobytes())
    return buf.getvalue()


def synthetic_media_df(spark, n_images: int = 12, n_audio: int = 12) -> DataFrame:
    """A small deterministic media table in MEDIA_SCHEMA shape (blobs are
    REAL PNGs/WAVs built driver-side — bounded: n_images+n_audio rows of
    a few KB each)."""
    rows = []
    for i in range(n_images):
        blob = synthesize_png(i, width=16, height=16)
        rows.append((i, "image", bytearray(blob), ("png", 16, 16, None)))
    for i in range(n_audio):
        blob = synthesize_wav(i)
        rows.append((1000 + i, "audio", bytearray(blob),
                     ("wav", None, None, 200)))
    return local_frame(spark, rows, MEDIA_SCHEMA)


def encode_png(img: "Any") -> bytes:
    """Minimal dependency-free PNG encoder (8-bit RGB, filter-0
    scanlines, stdlib zlib) — the write half of ``_decode_png``. Accepts
    an HxWx3 uint8 array; output decodes bit-exactly by any PNG reader."""
    import struct
    import zlib

    arr = np.asarray(img, dtype=np.uint8)
    if arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError(f"encode_png needs HxWx3 uint8, got {arr.shape}")
    h, w, _ = arr.shape
    raw = bytearray()
    for y in range(h):
        raw.append(0)
        raw.extend(arr[y].tobytes())

    def chunk(typ: bytes, payload: bytes) -> bytes:
        crc = zlib.crc32(typ + payload) & 0xFFFFFFFF
        return (struct.pack(">I", len(payload)) + typ + payload
                + struct.pack(">I", crc))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (PNG_MAGIC + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


def resize_array(img: "Any", width: int, height: int) -> "Any":
    """Nearest-neighbor resize of an HxWxC array — pure integer index
    math (src = floor((dst + 0.5) * src_len / dst_len)), deterministic
    across platforms, no interpolation-rounding ambiguity."""
    arr = np.asarray(img)
    h, w = arr.shape[0], arr.shape[1]
    ys = np.minimum(((np.arange(height) + 0.5) * h / height).astype(np.int64),
                    h - 1)
    xs = np.minimum(((np.arange(width) + 0.5) * w / width).astype(np.int64),
                    w - 1)
    return arr[ys][:, xs]


RESIZED_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("content", BinaryType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_bytes", LongType()),
    StructField("sha256", StringType()),
])


def resize_images(
    df: DataFrame, width: int, height: int, fake: bool = False
) -> DataFrame:
    """Batch image resize: decode (real PNG/Pillow path or the
    deterministic fake) → nearest-neighbor resample → re-encode as PNG.
    Arrow-batched ``mapInPandas``; output rows carry the resized blob +
    refreshed dimensions/digest, ready to publish as a new media table.
    The thumbnail/normalize step of a multimodal training pipeline."""
    if width <= 0 or height <= 0:
        raise ValueError(f"target size must be positive: {width}x{height}")

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                blob = bytes(content) if content is not None else b""
                img = decode_image(blob, fake=fake)
                resized = resize_array(img, width, height)
                enc = encode_png(resized)
                out.append({
                    "media_id": media_id,
                    "content": enc,
                    "width": width,
                    "height": height,
                    "n_bytes": len(enc),
                    "sha256": hashlib.sha256(enc).hexdigest(),
                })
            yield pd.DataFrame(
                out, columns=[f.name for f in RESIZED_SCHEMA.fields])

    return df.select("media_id", "content").mapInPandas(
        compute, RESIZED_SCHEMA)
