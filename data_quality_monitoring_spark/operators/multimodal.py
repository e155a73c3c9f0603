"""Multimodal column plumbing: images/audio/video as opaque binary columns.

A training-data pipeline carries media as ``binary`` payloads plus typed
metadata; the Spark-side mechanics — schema, Arrow batch shape, partition
sizing, per-executor decoder reuse — are identical whatever the codec.  This
module makes that plumbing real and tested with REAL stdlib codecs where
the format allows (PNG via struct+zlib, WAV via ``wave``) and honest
stubs elsewhere (no image/audio libraries in this container):

* ``decode_image`` raises ``NotImplementedError`` unless
  ``deterministic_fake=True``, in which case it derives (width, height,
  channels) and a tiny feature vector from the bytes deterministically —
  enough to test the full distributed path end-to-end,
* the UDFs are ``mapInPandas`` over Arrow batches, the shape a real decoder
  (PIL/ffmpeg) would plug into without touching the plan.

At 100 TB: media rows are fat, so the knobs that matter are
``spark.sql.files.maxPartitionBytes`` (keep scan splits ≪ executor memory)
and ``spark.sql.execution.arrow.maxRecordsPerBatch`` (bound batch bytes, not
just rows) — both set in session.py.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("mime", T.StringType(), True),
        T.StructField("source_url", T.StringType(), True),
    ]
)

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("content_md5", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("features", T.ArrayType(T.FloatType()), True),
    ]
)

FEATURE_DIM = 8
_FEATURE_MOD = 1009  # prime; features are (seed·(i+1)) mod 1009, scaled


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _decode_png(payload: bytes) -> tuple[int, int, int, np.ndarray]:
    """Pure-stdlib PNG decode (struct + zlib): returns (width, height,
    channels, pixels[h, w, c] uint8).  Supports the formats a web corpus
    overwhelmingly carries — 8-bit grayscale / RGB / RGBA / gray+alpha,
    non-interlaced, all five scanline filters.  No image library needed:
    PNG is just zlib-compressed filtered scanlines."""
    import struct
    import zlib

    if payload[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG")
    pos, width, height, channels, bit_depth = 8, 0, 0, 0, 0
    idat = b""
    while pos + 8 <= len(payload):
        (length,), ctype = struct.unpack(">I", payload[pos : pos + 4]), payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            width, height, bit_depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if bit_depth != 8 or interlace != 0:
                raise NotImplementedError("only 8-bit non-interlaced PNG")
            channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color)
            if channels is None:
                raise NotImplementedError(f"PNG color type {color}")
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
    raw = zlib.decompress(idat)
    stride = width * channels
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(height):
        f = raw[y * (stride + 1)]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1).astype(np.int64)
        if f == 0:
            cur = line
        elif f == 2:  # Up
            cur = (line + prev) % 256
        else:  # Sub / Average / Paeth need the left neighbour → sequential
            cur = np.zeros(stride, dtype=np.int64)
            for x in range(stride):
                a = cur[x - channels] if x >= channels else 0
                b = prev[x]
                c = prev[x - channels] if x >= channels else 0
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + b) // 2
                elif f == 4:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                else:
                    raise ValueError(f"bad PNG filter {f}")
                cur[x] = (line[x] + pred) % 256
        out[y] = cur
        prev = cur
    return width, height, channels, out.reshape(height, width, channels)


def _pixel_features(pixels: np.ndarray, width: int, height: int) -> np.ndarray:
    """8-dim deterministic feature vector from decoded pixels: aspect,
    log-area, up-to-3 channel means, overall std/min/max (all /255)."""
    px = pixels.astype(np.float64)
    ch_means = px.reshape(-1, px.shape[2]).mean(axis=0) / 255.0
    means3 = np.zeros(3)
    means3[: min(3, len(ch_means))] = ch_means[:3]
    return np.array(
        [
            width / height,
            np.log1p(width * height),
            *means3,
            px.std() / 255.0,
            px.min() / 255.0,
            px.max() / 255.0,
        ],
        dtype="float32",
    )


def decode_image_bytes(payload: bytes, deterministic_fake: bool = False) -> dict:
    """Image decode with a real stdlib path and a deterministic test path.

    ``deterministic_fake=True`` derives plausible metadata + an 8-dim
    feature vector purely from the bytes, seeded by the md5 of the payload.
    md5 (not crc32) deliberately: every derived value is then expressible
    in ANSI SQL, so the distributed plumbing can be oracled end-to-end, not
    just smoke-tested.

    The real path tries PIL if importable (jpeg/webp/...), else the
    pure-stdlib PNG decoder above; anything else raises
    NotImplementedError — honestly, rather than faking a decode."""
    if not deterministic_fake:
        try:  # full codec coverage when an image library exists
            import io

            from PIL import Image  # type: ignore

            img = Image.open(io.BytesIO(payload))
            arr = np.asarray(img)
            if arr.ndim == 2:
                arr = arr[:, :, None]
            w, h, ch = img.width, img.height, arr.shape[2]
            return {
                "content_md5": hashlib.md5(payload).hexdigest(),
                "width": w,
                "height": h,
                "channels": ch,
                "features": _pixel_features(arr, w, h),
            }
        except ImportError:
            pass
        if payload[:8] == _PNG_MAGIC:
            w, h, ch, pixels = _decode_png(payload)
            return {
                "content_md5": hashlib.md5(payload).hexdigest(),
                "width": w,
                "height": h,
                "channels": ch,
                "features": _pixel_features(pixels, w, h),
            }
        raise NotImplementedError(
            "no image library available and payload is not a PNG; "
            "pass deterministic_fake=True for the synthetic test path"
        )
    digest = hashlib.md5(payload).hexdigest()
    seed = int(digest[:8], 16)
    feats = np.array(
        [(seed * (i + 1)) % _FEATURE_MOD for i in range(FEATURE_DIM)], dtype="float64"
    )
    return {
        "content_md5": digest,
        "width": int(64 + seed % 1920),
        "height": int(64 + (seed >> 8) % 1080),
        "channels": 3,
        "features": (feats / _FEATURE_MOD - 0.5).astype("float32"),
    }


def extract_image_metadata(media: DataFrame, deterministic_fake: bool = False) -> DataFrame:
    """media table → per-image metadata + features via mapInPandas.

    Column pruning note: only (media_id, payload) are read — keep the
    select explicit so the parquet scan prunes the fat columns it can."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    rows.append(
                        {"media_id": mid, "n_bytes": None, "content_md5": None, "width": None,
                         "height": None, "channels": None, "features": None}
                    )
                    continue
                payload = bytes(payload)
                meta = decode_image_bytes(payload, deterministic_fake)
                rows.append(
                    {
                        "media_id": mid,
                        "n_bytes": len(payload),
                        "content_md5": meta["content_md5"],
                        "width": meta["width"],
                        "height": meta["height"],
                        "channels": meta["channels"],
                        "features": meta["features"],
                    }
                )
            yield pd.DataFrame(rows)

    return media.select("media_id", "payload").mapInPandas(run, IMAGE_META_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("peak", T.IntegerType(), True),
        T.StructField("sum_sq", T.LongType(), True),
        T.StructField("zero_crossings", T.LongType(), True),
        T.StructField("rms", T.DoubleType(), True),
    ]
)


def decode_wav_bytes(payload: bytes) -> dict:
    """Real stdlib WAV decode (``wave`` + numpy): PCM16 RIFF payloads —
    the audio analogue of the stdlib PNG path (no audio library needed,
    WAV is just a 44-byte header over little-endian PCM frames).

    Feature set is chosen to be *exactly* reproducible by a relational
    oracle: ``sum_sq`` (Σ s²) and ``zero_crossings`` are integer-exact,
    ``peak`` is max|s|, and ``rms = sqrt(sum_sq / n)`` is one IEEE
    division + sqrt over exact integers — no float accumulation order to
    disagree about.  Non-PCM16 payloads raise NotImplementedError
    (honestly, like the image path) — callers running over a crawl wrap
    this in a NULL-row guard."""
    import io
    import math
    import wave

    with wave.open(io.BytesIO(payload)) as w:
        if w.getsampwidth() != 2:
            raise NotImplementedError("only PCM16 WAV")
        sr, ch, n = w.getframerate(), w.getnchannels(), w.getnframes()
        raw = w.readframes(n)
    samples = np.frombuffer(raw, dtype="<i2").astype(np.int64)
    n_s = len(samples)
    sum_sq = int((samples * samples).sum())
    return {
        "sample_rate": sr,
        "channels": ch,
        "n_samples": n_s,
        "peak": int(np.abs(samples).max()) if n_s else 0,
        "sum_sq": sum_sq,
        "zero_crossings": int(((samples[:-1] * samples[1:]) < 0).sum()) if n_s > 1 else 0,
        "rms": math.sqrt(sum_sq / n_s) if n_s else 0.0,
    }


def extract_audio_features(media: DataFrame) -> DataFrame:
    """media table → per-clip audio features via mapInPandas (same Arrow
    batch shape as the image path).  Undecodable / NULL payloads yield a
    NULL-feature row — a corrupt clip must never kill a partition."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        nulls = {k.name: None for k in AUDIO_FEATURES_SCHEMA if k.name != "media_id"}
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                row = {"media_id": mid, **nulls}
                if payload is not None:
                    payload = bytes(payload)
                    row["n_bytes"] = len(payload)  # known even when undecodable
                    try:
                        row.update(decode_wav_bytes(payload))
                    except Exception:
                        pass
                rows.append(row)
            yield pd.DataFrame(rows)

    return media.select("media_id", "payload").mapInPandas(run, AUDIO_FEATURES_SCHEMA)


def synth_wav_bytes(seed: int) -> bytes:
    """Deterministic 8 kHz PCM16 mono WAV fixture: integer sawtooth-ish waveform
    ``s_i = ((a·i + b) mod 4001) − 2000`` with (n, a, b) derived from the
    seed by pure integer arithmetic — every decoded feature is therefore
    re-computable in ANSI SQL (the trick that oracles the fake image
    decode), while the bytes themselves are REAL RIFF/WAV written by the
    stdlib ``wave`` module, so the decode under test is a real decode."""
    import io
    import wave

    n = 240 + (seed % 97) * 7
    a = 3 + seed % 11
    b = seed % 251
    idx = np.arange(n, dtype=np.int64)
    samples = ((a * idx + b) % 4001 - 2000).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(samples.tobytes())
    return buf.getvalue()


def frame_sample_plan(media: DataFrame, every_n_seconds: int = 5) -> DataFrame:
    """Video frame-sampling *plan*: emits (media_id, frame_ts) rows the
    decoder stage would consume — pure native expressions (the duration
    here is stubbed as a deterministic function of payload size)."""
    duration = (F.length("payload") % 120 + 1).alias("duration_s")
    with_dur = media.filter(F.col("kind") == "video").select("media_id", duration)
    return with_dur.select(
        "media_id",
        F.explode(F.sequence(F.lit(0), F.col("duration_s"), F.lit(every_n_seconds))).alias(
            "frame_ts"
        ),
    )


def pages_to_media(pages: DataFrame) -> DataFrame:
    """Adapter: treat page html payloads as a media table (kind=image used
    for the fake-decode test path)."""
    return pages.select(
        F.xxhash64("url").alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("html").alias("payload"),
        F.lit("text/html").alias("mime"),
        F.col("url").alias("source_url"),
    )


def resize_pixels(pixels: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbour resize, pure numpy fancy indexing — no image
    library needed, deterministic, and exactly what a thumbnail/embedding
    preprocessor wants as its fallback path."""
    h, w = pixels.shape[0], pixels.shape[1]
    ys = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    xs = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return pixels[ys[:, None], xs[None, :]]


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("pixels", T.BinaryType()),  # row-major uint8 w*h*ch
    ]
)


def resize_images(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """media table → fixed-size raw pixel tensors via mapInPandas (the
    resize step of an embedding/thumbnail pipeline; brief §multimodal).

    Decodes with the same real path as ``decode_image_bytes`` (PIL if
    importable, else the stdlib PNG decoder); undecodable payloads yield a
    NULL pixels row rather than failing the batch — at crawl scale a
    corrupt image must never kill a partition."""
    import io

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                row = {
                    "media_id": mid, "width": out_w, "height": out_h,
                    "channels": None, "pixels": None,
                }
                if payload is not None:
                    payload = bytes(payload)
                    arr = None
                    try:
                        from PIL import Image  # type: ignore

                        arr = np.asarray(Image.open(io.BytesIO(payload)))
                        if arr.ndim == 2:
                            arr = arr[:, :, None]
                    except Exception:
                        if payload[:8] == _PNG_MAGIC:
                            try:
                                _, _, _, arr = _decode_png(payload)
                            except Exception:
                                arr = None
                    if arr is not None:
                        small = resize_pixels(arr, out_w, out_h)
                        row["channels"] = int(small.shape[2])
                        row["pixels"] = small.astype(np.uint8).tobytes()
                rows.append(row)
            yield pd.DataFrame(rows)

    return media.select("media_id", "payload").mapInPandas(run, RESIZED_SCHEMA)
