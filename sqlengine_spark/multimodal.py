"""Multimodal column support: opaque binary payloads + typed metadata,
processed with Arrow-batched ``mapInPandas`` (SURVEY §2 tier L,
BASELINE.json north star "multimodal columns").

Data model
----------
A media relation is an ordinary DataFrame with the convention:

    media_id  LONG         -- stable key
    kind      STRING       -- 'image' | 'audio' | 'video'
    payload   BINARY       -- opaque encoded bytes
    meta      STRUCT<width INT, height INT, sample_rate INT, fmt STRING>

Spark shuffles/spills binary columns like any other; Arrow moves them
to Python as zero-copy buffers, so the decode path is batched, not
per-row.

Decode stub
-----------
No image/audio codec ships with the engine, so the actual decode is
STUBBED: ``_fake_decode`` derives a deterministic pseudo-feature vector
from the payload bytes so the full pipeline — schema, partitioning, UDF
signature, Arrow batch shape — is real and testable end to end. On a
real cluster you swap `_fake_decode` for the library call
(PIL.Image.open / soundfile.read); nothing else changes.

Scale design: ``repartition(media_id)`` before the map gives balanced
decode work regardless of upstream file layout; ``mapInPandas``
processes an ITERATOR of pandas batches per partition, so peak memory
is one Arrow batch (spark.sql.execution.arrow.maxRecordsPerBatch), not
one partition.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_DIM = 8

FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes long, feat_norm double, "
    + ", ".join(f"f{i} double" for i in range(FEATURE_DIM))
)

FRAME_SCHEMA = "media_id long, frame_no int, frame_bytes long, frame_digest string"


def _fake_decode(payload: bytes) -> list[float]:
    """Deterministic stand-in for a real decoder: 8 floats in [0, 1)
    derived from the payload digest. Same bytes → same features, on any
    executor, in any partition order."""
    dig = hashlib.sha256(payload).digest()
    return [
        int.from_bytes(dig[4 * i : 4 * i + 4], "big") / 2**32
        for i in range(FEATURE_DIM)
    ]


def extract_features(df: DataFrame) -> DataFrame:
    """payload → fixed-width feature vector per media row."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:  # one Arrow batch at a time — bounded memory
            feats = [_fake_decode(p) for p in pdf["payload"]]
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"].values,
                    "kind": pdf["kind"].values,
                    "n_bytes": [len(p) for p in pdf["payload"]],
                    "feat_norm": [sum(x * x for x in f) ** 0.5 for f in feats],
                }
            )
            for i in range(FEATURE_DIM):
                out[f"f{i}"] = [f[i] for f in feats]
            yield out

    return df.repartition("media_id").mapInPandas(run, FEATURE_SCHEMA)


def sample_frames(df: DataFrame, frame_size: int) -> DataFrame:
    """Video-style frame sampling: split each payload into fixed-size
    chunks ('frames') and keep every 2nd — the batched-UDF shape of a
    real ffmpeg keyframe sampler (which would replace the chunking)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                frames = [
                    payload[off : off + frame_size]
                    for off in range(0, len(payload), frame_size)
                ]
                for no, fr in enumerate(frames):
                    if no % 2 == 0:
                        rows.append(
                            (mid, no, len(fr), hashlib.md5(fr).hexdigest())
                        )
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_no", "frame_bytes", "frame_digest"]
            )

    return df.repartition("media_id").mapInPandas(run, FRAME_SCHEMA)


def documents_as_media(df: DataFrame) -> DataFrame:
    """Adapter used by tests/queries: treat document text bytes as an
    opaque payload with typed metadata — exercising the exact schema a
    real image/audio table would have."""
    return df.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit(64).alias("width"),
            F.lit(64).alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit("png").alias("fmt"),
        ).alias("meta"),
    )
