"""Multimodal columns: image/audio/video as opaque BINARY + typed metadata
(SURVEY B-XI L5).

Design: media travels as a BINARY column with a typed metadata struct; all
decode/feature work is Arrow-batched ``mapInPandas`` so bytes move once per
batch, never per row. The actual codecs (PIL/ffmpeg/etc.) are NOT in this
container — the decode kernels are stubbed behind ``DECODERS`` with a
deterministic fake, and everything Spark-side (schema, batching,
partitioning, UDF signatures) is real and tested. Swapping in a real
decoder is a one-function change per modality.

At 100 TB: media rows are large → keep ``spark.sql.files.maxPartitionBytes``
moderate, let each task stream batches; feature extraction emits small
fixed-width vectors so downstream shuffles never carry raw bytes.
"""

from __future__ import annotations

import hashlib
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from cdc_init_spark.functions.parallelism import widen
from pyspark.sql import DataFrame
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

MEDIA_META = StructType(
    [
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),
        StructField("codec", StringType()),
    ]
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("content", BinaryType()),
        StructField("meta", MEDIA_META),
    ]
)


def _fake_decode_image(content: bytes) -> np.ndarray:
    """Deterministic stand-in for a real image decoder: expands the bytes
    into a pseudo-pixel array seeded by their crc32. Real deployments
    replace this via DECODERS['image']."""
    rng = np.random.default_rng(zlib.crc32(content or b""))
    return rng.integers(0, 256, size=(8, 8, 3), dtype=np.uint8)


def _decode_image(content: bytes) -> np.ndarray:
    """Default image decoder: REAL decode for recognized formats (PNG and
    baseline/progressive JPEG via the dependency-free codecs), deterministic fake for
    everything else — so synthetic fixtures keep working while real blobs
    decode for real."""
    from cdc_init_spark.operators import codecs

    if codecs.is_png(content or b""):
        return codecs.decode_png(content)
    if codecs.is_jpeg(content or b""):
        return codecs.decode_jpeg(content)
    return _fake_decode_image(content)


DECODERS = {"image": _decode_image}


def extract_image_features(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    feat_dim: int = 16,
) -> DataFrame:
    """BINARY → fixed-width float feature vector (mean-pooled channel
    stats of the decoded array), Arrow-batched. Output is small and
    shuffle-friendly: (id, features ARRAY<FLOAT>)."""
    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("features", ArrayType(FloatType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        decode = DECODERS["image"]
        for pdf in batches:
            feats = []
            for content in pdf[content_col]:
                arr = decode(bytes(content) if content is not None else b"")
                flat = arr.astype(np.float64).reshape(-1)
                # mean-pool into feat_dim buckets — stable, codec-free
                pooled = np.array(
                    [c.mean() for c in np.array_split(flat, feat_dim)],
                    dtype=np.float32,
                )
                feats.append(pooled.tolist())
            yield pd.DataFrame({id_col: pdf[id_col], "features": feats})

    return widen(df.select(id_col, content_col)).mapInPandas(run, schema)


def resize_images(
    df: DataFrame,
    width: int,
    height: int,
    content_col: str = "content",
    id_col: str = "media_id",
) -> DataFrame:
    """Decode → nearest-neighbor resize → re-encode as a real PNG
    (operators/codecs.encode_png — stdlib zlib, no Pillow). Output blobs
    round-trip through decode_png bit-exactly."""
    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("content", BinaryType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from cdc_init_spark.operators.codecs import encode_png

        decode = DECODERS["image"]
        for pdf in batches:
            out_bytes, ws, hs = [], [], []
            for content in pdf[content_col]:
                arr = decode(bytes(content) if content is not None else b"")
                ys = (np.arange(height) * arr.shape[0] // height).clip(
                    0, arr.shape[0] - 1
                )
                xs = (np.arange(width) * arr.shape[1] // width).clip(
                    0, arr.shape[1] - 1
                )
                resized = arr[ys][:, xs]
                out_bytes.append(encode_png(resized))
                ws.append(width)
                hs.append(height)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "content": out_bytes,
                    "width": ws,
                    "height": hs,
                }
            )

    return widen(df.select(id_col, content_col)).mapInPandas(run, schema)


def sample_frames(
    df: DataFrame,
    every_ms: int = 1000,
    id_col: str = "media_id",
    content_col: str = "content",
) -> DataFrame:
    """Video → sampled frame rows (media_id, frame_idx, ts_ms,
    frame BINARY). REAL path: blobs in the FPNG container format
    (operators.codecs — an offset-indexed sequence of PNG frames, the
    stbl/stco shape of real containers) are sampled by timestamp and
    each selected frame's PNG bytes are extracted as a pure byte-range
    slice — non-sampled frames are never inflated, so the work scales
    with frames KEPT, not stored. Unrecognized formats keep the
    deterministic fake (one digest row per pseudo-frame); a real
    ffmpeg-backed decoder drops in via DECODERS."""
    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("frame_idx", IntegerType()),
            StructField("ts_ms", LongType()),
            StructField("frame", BinaryType()),
        ]
    )

    from cdc_init_spark.operators import codecs

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {id_col: [], "frame_idx": [], "ts_ms": [], "frame": []}
            for mid, content in zip(pdf[id_col], pdf[content_col]):
                blob = bytes(content) if content is not None else b""
                if codecs.is_fpng(blob):
                    n, frame_ms, _ = codecs.fpng_info(blob)
                    if n == 0:
                        # zero-frame container: nothing to sample — the
                        # dur=0 loop would otherwise run once with
                        # i = min(0, -1) = -1 and IndexError the whole
                        # Arrow task (ADVICE r2)
                        continue
                    dur = n * frame_ms
                    seen: set[int] = set()
                    for t in range(0, max(dur, 1), every_ms):
                        i = min(t // max(frame_ms, 1), n - 1)
                        if i in seen:
                            continue
                        seen.add(i)
                        rows[id_col].append(mid)
                        rows["frame_idx"].append(int(i))
                        rows["ts_ms"].append(int(i * frame_ms))
                        rows["frame"].append(codecs.decode_fpng_frame(blob, i))
                    continue
                n_frames = (zlib.crc32(blob) % 5) + 1  # fake duration
                for i in range(n_frames):
                    rows[id_col].append(mid)
                    rows["frame_idx"].append(i)
                    rows["ts_ms"].append(i * every_ms)
                    rows["frame"].append(
                        hashlib.blake2b(
                            blob + i.to_bytes(4, "little"), digest_size=32
                        ).digest()
                    )
            yield pd.DataFrame(rows)

    return widen(df.select(id_col, content_col)).mapInPandas(run, schema)


def _fake_decode_audio(content: bytes, sample_rate: int = 16_000) -> np.ndarray:
    """Deterministic stand-in for a real audio decoder: expands the bytes
    into ~1 s of pseudo-PCM (int16) seeded by their crc32. Real
    deployments replace this via DECODERS['audio']."""
    rng = np.random.default_rng(zlib.crc32(content or b""))
    n = sample_rate + int(zlib.crc32(b"len" + (content or b"")) % sample_rate)
    return rng.integers(-(2**15), 2**15, size=n, dtype=np.int16)


def _decode_audio(content: bytes) -> np.ndarray:
    """Default audio decoder: REAL decode for WAV blobs, deterministic
    fake for everything else (same policy as the image path)."""
    from cdc_init_spark.operators import codecs

    if codecs.is_wav(content or b""):
        return codecs.decode_wav(content)
    return _fake_decode_audio(content)


DECODERS["audio"] = _decode_audio


def extract_audio_features(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    n_windows: int = 8,
) -> DataFrame:
    """BINARY → fixed-width audio feature vector: per-window RMS energy
    and zero-crossing rate over ``n_windows`` equal slices of the decoded
    PCM (2·n_windows floats). Same scale shape as the image path: bytes
    move once per Arrow batch, output is small and shuffle-friendly."""
    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("features", ArrayType(FloatType())),
            StructField("n_samples", LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        decode = DECODERS["audio"]
        for pdf in batches:
            feats, lens = [], []
            for content in pdf[content_col]:
                pcm = decode(bytes(content) if content is not None else b"")
                x = pcm.astype(np.float64) / 2**15
                rms, zcr = [], []
                for w in np.array_split(x, n_windows):
                    rms.append(float(np.sqrt(np.mean(w * w))) if len(w) else 0.0)
                    zcr.append(
                        float(np.mean(np.abs(np.diff(np.sign(w))) > 0))
                        if len(w) > 1
                        else 0.0
                    )
                feats.append(
                    np.array(rms + zcr, dtype=np.float32).tolist()
                )
                lens.append(len(pcm))
            yield pd.DataFrame(
                {id_col: pdf[id_col], "features": feats, "n_samples": lens}
            )

    return widen(df.select(id_col, content_col)).mapInPandas(run, schema)


def audio_chunks(
    df: DataFrame,
    chunk_ms: int = 250,
    sample_rate: int = 16_000,
    content_col: str = "content",
    id_col: str = "media_id",
) -> DataFrame:
    """Audio → fixed-duration chunk rows (media_id, chunk_idx, start_ms,
    chunk BINARY int16-PCM) — the audio twin of ``sample_frames``. Chunk
    rows are what downstream ASR/embedding stages batch over; emitting
    them as rows (not arrays) keeps any single task's memory bounded by
    chunk size, not clip length."""
    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("chunk_idx", IntegerType()),
            StructField("start_ms", LongType()),
            StructField("chunk", BinaryType()),
        ]
    )
    samples_per_chunk = sample_rate * chunk_ms // 1000

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        decode = DECODERS["audio"]
        for pdf in batches:
            rows = {id_col: [], "chunk_idx": [], "start_ms": [], "chunk": []}
            for mid, content in zip(pdf[id_col], pdf[content_col]):
                pcm = decode(bytes(content) if content is not None else b"")
                for i in range(0, max(len(pcm), 1), samples_per_chunk):
                    idx = i // samples_per_chunk
                    rows[id_col].append(mid)
                    rows["chunk_idx"].append(idx)
                    rows["start_ms"].append(idx * chunk_ms)
                    rows["chunk"].append(pcm[i : i + samples_per_chunk].tobytes())
            yield pd.DataFrame(rows)

    return widen(df.select(id_col, content_col)).mapInPandas(run, schema)


def image_dhash(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    hash_size: int = 8,
) -> DataFrame:
    """Perceptual difference hash (dHash) per image: decode → grayscale
    → nearest-neighbor resize to (hash_size+1, hash_size) → one bit per
    horizontal gradient sign → a ``hash_size²``-bit integer. Visually
    identical images collide; small edits flip few bits, so Hamming
    distance is the image near-dup metric (the image twin of SimHash —
    reuse the same sliced-Hamming blocking, operators/dedup.py).

    Real PNGs hash their actual pixels (operators/codecs.py decode);
    other blobs hash the deterministic fake — either way the output is
    a stable 64-bit column, Arrow-batched, shuffle-friendly."""
    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("dhash", LongType()),
        ]
    )
    side = hash_size

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        decode = DECODERS["image"]
        for pdf in batches:
            hashes = []
            for content in pdf[content_col]:
                arr = decode(bytes(content) if content is not None else b"")
                a = arr.astype(np.float64)
                gray = a.mean(axis=2) if a.ndim == 3 else a
                ys = (np.arange(side) * gray.shape[0] // side).clip(
                    0, gray.shape[0] - 1
                )
                xs = (np.arange(side + 1) * gray.shape[1] // (side + 1)).clip(
                    0, gray.shape[1] - 1
                )
                small = gray[ys][:, xs]
                bits = (small[:, 1:] > small[:, :-1]).reshape(-1)
                h = 0
                for b in bits:
                    h = (h << 1) | int(b)
                # fold into signed 64-bit (hash_size 8 → exactly 64 bits)
                hashes.append(h - (1 << 64) if h >= (1 << 63) else h)
            yield pd.DataFrame({id_col: pdf[id_col], "dhash": hashes})

    return widen(df.select(id_col, content_col)).mapInPandas(run, schema)
