"""Multimodal column handling: images/audio/video as opaque binary columns
with typed metadata, processed by Arrow-batched pandas UDFs.

The container has no image/audio libraries, so the DECODE step is stubbed
(deterministic byte-level fake, clearly marked) — but everything Spark-side
is real and tested: the schema, the mapInPandas plumbing, the batch
iteration shape, and the partitioning story. Swapping the stub for
PIL/torchaudio changes one function body, nothing else.

Scale notes: binary payloads are large — the design keeps them OUT of
shuffles. Feature extraction is a narrow mapInPandas (no shuffle); anything
aggregated downstream carries only the extracted features. For 100 TB of
media, source layout should be many ~128-512 MB parquet files so the scan
parallelizes; `spark.sql.files.maxPartitionBytes` controls split sizing.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

BLOB_SCHEMA = StructType(
    [
        StructField("blob_id", LongType()),
        StructField("media_type", StringType()),  # image|audio|video
        StructField("content", BinaryType()),
        StructField("n_bytes", LongType()),
        StructField("source", StringType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("blob_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("histogram", ArrayType(DoubleType())),
    ]
)

_HIST_BINS = 16


def make_blob_table(df: DataFrame) -> DataFrame:
    """Derive a deterministic binary-blob table from a ``(doc_id, text)``
    table — the fixture generator for multimodal plumbing (UTF-8 bytes
    stand in for encoded media)."""
    return df.select(
        F.col("doc_id").alias("blob_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.length(F.encode(F.col("text"), "UTF-8")).cast("long").alias("n_bytes"),
        F.lit("synthetic").alias("source"),
    )


def _decode_stub(content: bytes) -> tuple[int, int]:
    """STUB decode — replace with PIL/ffmpeg when available.

    Deterministic fake dimensions derived from the payload so the plumbing
    is testable: width = 1 + (len % 640), height = 1 + (first_byte % 480).
    A real implementation would raise on corrupt input; the stub never does.
    """
    if not content:
        return (0, 0)
    return (1 + len(content) % 640, 1 + content[0] % 480)


def _byte_histogram(content: bytes, bins: int = _HIST_BINS) -> list[float]:
    """Feature stub: normalized histogram of byte values — a real pixel/
    sample histogram once decode is real. Deterministic, so tests can pin
    exact values."""
    counts = [0] * bins
    if content:
        for b in content:
            counts[b * bins // 256] += 1
        total = float(len(content))
        return [c / total for c in counts]
    return [0.0] * bins


def extract_features(blobs: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over binary content: Arrow-batched,
    one Python worker pass, no shuffle. Output drops the payload — only
    features flow downstream."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = pdf["content"].map(_decode_stub)
            yield pd.DataFrame(
                {
                    "blob_id": pdf["blob_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["n_bytes"],
                    "width": dims.map(lambda d: d[0]).astype("int32"),
                    "height": dims.map(lambda d: d[1]).astype("int32"),
                    "histogram": pdf["content"].map(_byte_histogram),
                }
            )

    return blobs.mapInPandas(run, schema=FEATURE_SCHEMA)


def frame_sample(blobs: DataFrame, n_frames: int = 4) -> DataFrame:
    """'Video' frame sampling stub: slice the payload into n equal byte
    ranges (one row per frame) — the explode-shaped plumbing of real frame
    extraction, with deterministic content."""
    idx = F.sequence(F.lit(0), F.lit(n_frames - 1))
    frame_len = (F.col("n_bytes") / n_frames).cast("long")
    return (
        blobs.filter(F.col("media_type") == "video")
        .select(
            "blob_id",
            F.explode(idx).alias("frame_idx"),
            F.col("n_bytes"),
            frame_len.alias("frame_len"),
        )
        .select(
            "blob_id",
            "frame_idx",
            (F.col("frame_idx") * F.col("frame_len")).alias("offset"),
            "frame_len",
        )
    )
