"""Multimodal columns: opaque binary payloads + typed metadata.

The reference has an image-NSFW classifier (`src/localmod/classifiers/
nsfw_image.py`) that the text pipeline doesn't use (SURVEY §7.5); a
training-data pipeline still needs the *plumbing* for image/audio/video
columns at 100 TB.  This module makes that plumbing real — schema,
deterministic synthesis, partition-friendly batching, mapInPandas UDF
signatures and batch shapes — while the actual codec work is stubbed
(PIL/ffmpeg/torchvision are not in this container):

  * ``decode="fake"`` (default): a deterministic stand-in decoder —
    byte-statistics features, so tests can assert exact values;
  * ``decode="real"``: raises NotImplementedError at the decode call
    site, marking exactly where PIL/torchvision slot in.

Scale notes: binary payloads dominate row size, so the stage keeps Arrow
batches small (`media_batch_rows`), never shuffles payload bytes (feature
extraction is a narrow map; only the small feature vectors continue), and
frame-sampling happens *inside* the UDF so sampled-out bytes never cross
the JVM↔Python boundary again.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_KINDS = [("image", "image/png"), ("audio", "audio/wav"), ("video", "video/mp4")]


def synth_media(spark: SparkSession, n_rows: int, payload_bytes: int = 2048) -> DataFrame:
    """Deterministic opaque-binary media table (closed-form, distributed).

    Payload = the row id's MD5 digest repeated — not a real codec stream,
    but stable and unique per row, which is all the plumbing tests need.
    MD5 (rather than xxhash64) because it is engine-independent: the
    DuckDB correctness oracle recomputes the same digest bytes, so the
    byte-statistics features are cross-checkable end to end."""
    if payload_bytes % 16 != 0:
        raise ValueError("payload_bytes must be a multiple of the 16-byte digest")
    i = F.col("id")
    kind_ix = (i % 3).cast("int")
    kinds = F.array(*[F.lit(k) for k, _ in _KINDS])
    mimes = F.array(*[F.lit(m) for _, m in _KINDS])
    digest = F.md5(i.cast("string"))  # 32 hex chars = 16 payload bytes
    payload = F.unhex(F.repeat(digest, payload_bytes // 16))
    # metadata scalar derived from the digest's first 8 hex chars (< 2^32)
    h = F.conv(F.substring(digest, 1, 8), 16, 10).cast("long")
    return (
        spark.range(n_rows)
        .select(
            i.alias("media_id"),
            F.format_string("conv-%08d", (i % 1000).cast("int")).alias("conv_id"),
            F.element_at(kinds, kind_ix + 1).alias("kind"),
            F.element_at(mimes, kind_ix + 1).alias("mime"),
            payload.alias("payload"),
            F.when(kind_ix == 0, ((h % 640) + 64).cast("int")).alias("width"),
            F.when(kind_ix == 0, ((h % 480) + 48).cast("int")).alias("height"),
            F.when(kind_ix != 0, ((h % 60000) + 1000).cast("int")).alias("duration_ms"),
        )
    )


FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", IntegerType(), False),
        StructField("byte_mean", DoubleType(), False),
        StructField("byte_entropy", DoubleType(), False),
        StructField("feature", ArrayType(DoubleType()), False),
        StructField("n_frames_sampled", IntegerType(), False),
    ]
)


def _fake_decode_features(payload: bytes, dim: int) -> np.ndarray:
    """Deterministic stand-in for decode→embed: bucketed byte histogram,
    L2-normalized.  Replace with PIL/torchvision decode + model forward."""
    arr = np.frombuffer(payload, dtype=np.uint8)
    hist = np.bincount(arr % dim, minlength=dim).astype(np.float64)
    norm = np.linalg.norm(hist) or 1.0
    return hist / norm


def _try_import_pil():
    """Optional-import gate for the real image codec: PIL when installed
    (env-gated tests exercise the real path there), None in this
    container (the fake-codec paths and loud ``decode="real"`` errors are
    unchanged)."""
    try:
        from PIL import Image  # noqa: PLC0415

        return Image
    except ImportError:
        return None


def _pil_decode_features(Image, payload: bytes, dim: int) -> np.ndarray:
    """REAL decode → feature: PIL-decode the payload, grayscale, bucketed
    luminance histogram L2-normalized — same output contract as the fake
    path (swap the histogram for a model forward to get embeddings)."""
    import io

    img = Image.open(io.BytesIO(payload)).convert("L")
    pixels = np.asarray(img, dtype=np.uint8).reshape(-1)
    hist = np.bincount(pixels % dim, minlength=dim).astype(np.float64)
    norm = np.linalg.norm(hist) or 1.0
    return hist / norm


def extract_media_features(
    media: DataFrame,
    dim: int = 16,
    frame_sample_every_ms: int = 5000,
    decode: str = "fake",
    media_batch_rows: int = 256,
) -> DataFrame:
    """Narrow mapInPandas: payload bytes → small feature rows.

    Only (media_id, kind, payload, duration_ms) cross into Python; only
    the feature vector crosses back.  ``frame_sample_every_ms`` models
    video frame sampling: the number of 'frames' processed is
    duration/interval, computed inside the UDF.
    """
    if decode not in ("fake", "real"):
        raise ValueError("decode must be 'fake' or 'real'")

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Image = _try_import_pil() if decode == "real" else None
        for pdf in batches:
            if decode == "real" and len(pdf) and Image is None:
                raise NotImplementedError(
                    "real decode requires PIL/torchvision/ffmpeg — not in this container; "
                    "plug the codec here (same signature, same output schema)"
                )
            # columnar iteration (zip over numpy arrays) — the per-payload
            # bincount is inherently per-row, but the row plumbing isn't
            rows = []
            kinds = pdf["kind"].to_numpy()
            durations = pdf["duration_ms"].to_numpy()
            for media_id, kind, payload, duration in zip(
                pdf["media_id"].to_numpy(), kinds, pdf["payload"], durations
            ):
                payload = bytes(payload)
                arr = np.frombuffer(payload, dtype=np.uint8)
                counts = np.bincount(arr, minlength=256).astype(np.float64)
                probs = counts[counts > 0] / len(arr)
                entropy = float(-(probs * np.log2(probs)).sum())
                if kind == "video" and not pd.isna(duration):
                    n_frames = max(int(duration) // frame_sample_every_ms, 1)
                else:
                    n_frames = 1
                if decode == "real":
                    if kind != "image":
                        raise NotImplementedError(
                            "real decode covers images (PIL); audio/video codecs "
                            "(ffmpeg) are not in this container"
                        )
                    feat = _pil_decode_features(Image, payload, dim)
                else:
                    feat = _fake_decode_features(payload, dim)
                rows.append(
                    {
                        "media_id": media_id,
                        "kind": kind,
                        "n_bytes": len(payload),
                        "byte_mean": float(arr.mean()),
                        "byte_entropy": round(entropy, 6),
                        "feature": feat.tolist(),
                        "n_frames_sampled": n_frames,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in FEATURE_SCHEMA.fields])

    slim = media.select("media_id", "kind", "payload", "duration_ms")
    # small Arrow batches: payloads are MBs at production scale
    slim = slim.repartition(max(media.sparkSession.sparkContext.defaultParallelism, 8))
    return slim.mapInPandas(_extract, schema=FEATURE_SCHEMA)
