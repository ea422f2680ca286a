"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as `binary` columns with a typed
metadata struct; decode / feature-extraction run as Arrow-batched
`mapInPandas` stages. No image/audio codec is a dependency, so a
deterministic fake featurizer stands in for the decode — the Spark-side
plumbing (schema, batch shape, partitioning) is real and tested.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = (
    "doc_id long, media_type string, n_bytes long, checksum long, "
    "feat array<double>"
)


def fake_features(payload: bytes, n: int = 8) -> list[float]:
    """Deterministic stand-in featurizer: bucketed byte histogram, L1-normed."""
    if not payload:
        return [0.0] * n
    hist = [0] * n
    for b in payload:
        hist[b % n] += 1
    total = float(len(payload))
    return [h / total for h in hist]


def extract_features(media: DataFrame, n_feat: int = 8) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    `mapInPandas` keeps batches columnar across the Python boundary; the
    per-batch loop is pandas-vectorizable for a real featurizer. Partitioning
    of the input is preserved — no shuffle.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "checksum": payloads.map(
                        lambda b: zlib.crc32(b) & 0xFFFFFFFF
                    ).astype("int64"),
                    "feat": payloads.map(lambda b: fake_features(b, n_feat)),
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def documents_as_media(documents: DataFrame) -> DataFrame:
    """Adapter: treat document text bytes as an opaque media payload so the
    multimodal path is exercisable with the shipped testdata."""
    return documents.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.lit("text/plain").alias("media_type"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
        ).alias("meta"),
    )


FRAME_SCHEMA = (
    "doc_id long, media_type string, frame_idx int, n_bytes long, "
    "checksum long"
)


def frame_sample(
    media: DataFrame, frame_bytes: int = 64, stride: int = 4
) -> DataFrame:
    """Frame sampling over binary payloads: every `stride`-th fixed-size
    chunk becomes a 'frame' row (the video-keyframe / audio-window shape).

    Real decoders replace the byte-chunking; the Spark plumbing — explode of
    per-payload frames inside an Arrow batch, stable frame indexing, typed
    output — is exactly what a production extractor uses. Partition-local.
    """
    import zlib

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [], "media_type": [], "frame_idx": [],
                "n_bytes": [], "checksum": [],
            }
            for doc_id, mt, payload in zip(
                pdf["doc_id"], pdf["media_type"], pdf["payload"]
            ):
                n_frames = max(len(payload) // frame_bytes, 1)
                for idx in range(0, n_frames, stride):
                    chunk = payload[idx * frame_bytes:(idx + 1) * frame_bytes]
                    out["doc_id"].append(doc_id)
                    out["media_type"].append(mt)
                    out["frame_idx"].append(idx)
                    out["n_bytes"].append(len(chunk))
                    out["checksum"].append(zlib.crc32(chunk) & 0xFFFFFFFF)
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=FRAME_SCHEMA)


def resize_meta(media: DataFrame, width: int, height: int) -> DataFrame:
    """Resize plumbing: rewrites the typed metadata (the real pixel resize
    lives in the codec stub); shows the pattern of metadata-preserving
    transforms on opaque payload columns."""
    return media.withColumn(
        "meta",
        F.struct(
            F.lit(width).cast("int").alias("width"),
            F.lit(height).cast("int").alias("height"),
            F.col("meta.sample_rate").alias("sample_rate"),
        ),
    )
