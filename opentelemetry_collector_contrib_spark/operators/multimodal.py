"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, processed with Arrow-batched pandas over ``mapInPandas``.

The Spark-side plumbing here is real and tested — schemas, partition
strategy, UDF signatures, Arrow batch shapes. The actual media decode
is STUBBED: the package depends on no image/audio library, so
``extract_media_meta`` computes a deterministic fake (pure function of
the bytes) that stands in for decoded width/height/duration. Swapping
the fake for a real decoder changes ONE function body, not the
pipeline.

Scale posture: media rows are wide (MBs per row), so the operators
repartition by a content-hash bucket before the pandas stage — batch
memory is bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``
x row width, and hot-key skew cannot concentrate large blobs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


META_SCHEMA = (
    "doc_id long, n_bytes long, fake_width int, fake_height int, "
    "fake_format string, content_hash string"
)


def attach_binary(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stand-in ingest: treat a text column's UTF-8 bytes as the media
    blob (the real pipeline reads blobs from object storage). Produces
    the canonical (doc_id, media_type, blob) layout."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.lit("image").alias("media_type"),
        F.col(text_col).cast("binary").alias("blob"),
    )


def _fake_decode(blob: bytes) -> tuple[int, int, str]:
    """Deterministic decode stub: metadata as a pure function of the
    bytes. Replace with PIL decode when available."""
    n = len(blob)
    width = n % 512
    height = (n * 7) % 512
    fmt = "png" if n % 2 == 0 else "jpeg"
    return width, height, fmt


def extract_media_meta(df: DataFrame) -> DataFrame:
    """Arrow-batched metadata extraction over mapInPandas.

    Repartitions by md5-bucket of the blob first so large blobs spread
    evenly regardless of input layout; each pandas batch computes
    vectorized byte-level features + the (stubbed) decode.
    """
    import hashlib

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            blobs = pdf["blob"]
            n_bytes = blobs.map(lambda b: len(b) if b is not None else 0)
            decoded = blobs.map(lambda b: _fake_decode(b or b""))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n_bytes.astype("int64"),
                    "fake_width": decoded.map(lambda d: d[0]).astype("int32"),
                    "fake_height": decoded.map(lambda d: d[1]).astype("int32"),
                    "fake_format": decoded.map(lambda d: d[2]),
                    "content_hash": blobs.map(
                        lambda b: hashlib.md5(b or b"").hexdigest()
                    ),
                }
            )

    bucket = F.pmod(F.xxhash64(F.col("blob")), F.lit(32))
    return df.repartition(32, bucket).mapInPandas(batches, META_SCHEMA)


FRAME_SCHEMA = "doc_id long, frame_idx int, frame_bytes binary"


def frame_sample(
    df: DataFrame,
    every_n_bytes: int = 64,
    max_frames: int = 8,
) -> DataFrame:
    """Video-frame-sampling plumbing: fan each blob out to N 'frames'
    (fixed-stride byte slices as the decode stand-in) via mapInPandas —
    the UDTF shape (one row in, many out) a real frame sampler uses."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_ids, out_idx, out_bytes = [], [], []
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                b = blob or b""
                for i in range(min(max_frames, max(1, len(b) // every_n_bytes))):
                    out_ids.append(doc_id)
                    out_idx.append(i)
                    out_bytes.append(bytes(b[i * every_n_bytes : (i + 1) * every_n_bytes]))
            yield pd.DataFrame(
                {"doc_id": out_ids, "frame_idx": out_idx, "frame_bytes": out_bytes}
            )

    return df.mapInPandas(batches, FRAME_SCHEMA)
