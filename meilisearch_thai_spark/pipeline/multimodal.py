"""Multimodal binary columns: typed metadata + decode/feature plumbing.

A 100 TB training-data pipeline carries images/audio/video as opaque
``binary`` columns next to text.  This module provides the Spark-side
plumbing — schemas, partition-friendly batch shapes, Arrow-batched
``mapInPandas`` UDFs — with the actual media decoding STUBBED: the container
ships no image/audio libraries, so the decode step either dispatches to a
real library when importable (PIL/soundfile) or, by default, raises
``NotImplementedError`` / produces a clearly-marked deterministic fake whose
shape and dtype match what a real decoder would emit.  Everything around the
stub (metadata sniffing, batch schema, chunked frame sampling, feature
reduction) is real and tested.

The synthetic ``pages.html`` column and the driver ``documents`` table stand
in for binary payloads in tests/benchmarks.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# typed metadata over opaque binary (real, no stubs)
# ---------------------------------------------------------------------------

_MAGIC = [
    ("image/png", b"\x89PNG\r\n\x1a\n"),
    ("image/jpeg", b"\xff\xd8\xff"),
    ("image/gif", b"GIF8"),
    ("audio/wav", b"RIFF"),
    ("video/mp4-box", b"\x00\x00\x00"),  # size-prefixed box; weak, checked last
    ("text/html", b"<html"),
    ("application/pdf", b"%PDF"),
]


def binary_meta(df: DataFrame, id_col: str, bin_col: str) -> DataFrame:
    """Typed metadata columns for an opaque binary payload.

    Pure Column expressions (JVM-side, no Python): byte length, sha256
    content address, and magic-byte content sniffing.  This is the cheap
    full-corpus pass that decides which rows the expensive decode UDFs touch
    (predicate pushdown keeps the binary itself unread where parquet offers
    column pruning on other predicates).
    """
    sniff = F.lit("application/octet-stream")
    for mime, magic in reversed(_MAGIC):
        hexs = magic.hex()
        sniff = F.when(
            F.hex(F.substring(F.col(bin_col), 1, len(magic))) == F.lit(hexs.upper()), F.lit(mime)
        ).otherwise(sniff)
    return df.select(
        F.col(id_col),
        F.octet_length(F.col(bin_col)).alias("n_bytes"),
        F.sha2(F.col(bin_col), 256).alias("content_sha256"),
        sniff.alias("sniffed_type"),
    )


# ---------------------------------------------------------------------------
# decode stub dispatch
# ---------------------------------------------------------------------------


def _decode_image_real(payload: bytes) -> np.ndarray:
    """Real decode path, used only when PIL is importable in the container."""
    from io import BytesIO

    from PIL import Image  # type: ignore

    return np.asarray(Image.open(BytesIO(payload)).convert("RGB"))


def _decode_image_fake(payload: bytes, h: int = 8, w: int = 8) -> np.ndarray:
    """DETERMINISTIC FAKE decoder (clearly marked): derives an (h, w, 3)
    uint8 array from the payload bytes alone, so pipelines exercise the same
    schema/shape/dtype contract a real decoder would produce."""
    if not payload:
        return np.zeros((h, w, 3), dtype=np.uint8)
    b = np.frombuffer(payload, dtype=np.uint8)
    reps = int(np.ceil(h * w * 3 / len(b)))
    return np.tile(b, reps)[: h * w * 3].reshape(h, w, 3)


def decode_image(payload: bytes, allow_fake: bool = True) -> np.ndarray:
    """Decode an image payload to an RGB uint8 array.

    Tries the real library; without one, returns the deterministic fake when
    ``allow_fake`` (the default for pipeline plumbing tests) or raises
    ``NotImplementedError`` so production configs fail loudly.
    """
    try:
        return _decode_image_real(payload)
    except ImportError:
        if allow_fake:
            return _decode_image_fake(payload)
        raise NotImplementedError(
            "no image decoder available in this environment (PIL not installed); "
            "install one or run with allow_fake=True"
        ) from None
    except Exception:
        # undecodable bytes (our synthetic corpus): same policy as missing lib
        if allow_fake:
            return _decode_image_fake(payload)
        raise


# ---------------------------------------------------------------------------
# mapInPandas feature extraction (Arrow batch shape is the real contract)
# ---------------------------------------------------------------------------

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_key", T.LongType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("mean_rgb", T.ArrayType(T.DoubleType()), False),
        T.StructField("decoder", T.StringType(), False),
    ]
)


def image_features(df: DataFrame, id_col: str, bin_col: str, allow_fake: bool = True) -> DataFrame:
    """Decode → per-channel mean features, Arrow-batched.

    The decode runs inside ``mapInPandas`` so each task holds one Arrow batch
    of payloads at a time (bounded memory per core — the property that holds
    at 100 TB), and the wide binary column never round-trips back to the JVM:
    only the small feature row leaves Python.
    """
    src = df.select(F.col(id_col).cast("long").alias("doc_key"), F.col(bin_col).alias("payload"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        try:
            import PIL  # type: ignore  # noqa: F401

            decoder = "pil"
        except ImportError:
            decoder = "fake"
        for pdf in batches:
            if not len(pdf):
                continue
            keys, hs, ws, means = [], [], [], []
            for key, payload in zip(pdf["doc_key"], pdf["payload"]):
                arr = decode_image(bytes(payload or b""), allow_fake=allow_fake)
                keys.append(int(key))
                hs.append(arr.shape[0])
                ws.append(arr.shape[1])
                means.append([float(x) for x in arr.reshape(-1, 3).mean(axis=0)])
            yield pd.DataFrame(
                {
                    "doc_key": np.asarray(keys, dtype=np.int64),
                    "height": np.asarray(hs, dtype=np.int32),
                    "width": np.asarray(ws, dtype=np.int32),
                    "mean_rgb": means,
                    "decoder": decoder,
                }
            )

    return src.mapInPandas(run, IMAGE_FEATURES_SCHEMA)


FRAME_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("doc_key", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_bytes", T.BinaryType(), False),
    ]
)


def frame_sample(
    df: DataFrame, id_col: str, bin_col: str, n_frames: int = 4, frame_size: int = 256
) -> DataFrame:
    """Deterministic "video" frame sampling over an opaque payload.

    Stands in for ffmpeg keyframe extraction (STUB: real demuxing needs a
    media library): samples ``n_frames`` evenly-spaced ``frame_size``-byte
    chunks.  The Spark contract is the real part — one input row fans out to
    n rows (a generator-shaped mapInPandas), binary stays columnar end to
    end, and downstream decode UDFs consume the chunks exactly as they would
    consume real frames.
    """
    src = df.select(F.col(id_col).cast("long").alias("doc_key"), F.col(bin_col).alias("payload"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            keys, idxs, chunks = [], [], []
            for key, payload in zip(pdf["doc_key"], pdf["payload"]):
                data = bytes(payload or b"")
                if not data:
                    continue
                step = max(1, (len(data) - frame_size) // max(1, n_frames - 1))
                for i in range(n_frames):
                    off = min(i * step, max(0, len(data) - frame_size))
                    keys.append(int(key))
                    idxs.append(i)
                    chunks.append(data[off : off + frame_size])
            yield pd.DataFrame(
                {
                    "doc_key": np.asarray(keys, dtype=np.int64),
                    "frame_idx": np.asarray(idxs, dtype=np.int32),
                    "frame_bytes": chunks,
                }
            )

    return src.mapInPandas(run, FRAME_SAMPLE_SCHEMA)
