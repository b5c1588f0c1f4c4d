"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with a
typed metadata struct alongside.  The Spark-side plumbing — schema,
Arrow batch shape, mapInPandas signature, partition-size control — is real
and tested; the actual codec work (JPEG decode, resampling, frame
sampling) is stubbed behind ``NotImplementedError`` or a deterministic
fake, because no image/audio libraries exist in this container.  Swapping
the stub for Pillow/torchaudio changes ONE function body and nothing in
the plan.

Scale notes: binary payloads make rows wide — the batch-size lever is
``spark.sql.execution.arrow.maxRecordsPerBatch`` (keep batch_bytes ≈
rows × payload ≪ executor memory), and ``maxPartitionBytes`` on scan.
Feature extraction is embarrassingly parallel per row; nothing here
shuffles.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType,
)

META_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("media_type", StringType()),
    StructField("payload_len", IntegerType()),
    StructField("sha", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_frames", IntegerType()),
])


def synthesize_media(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Deterministic fake media table: payload = utf8 bytes of the text
    (an opaque blob as far as downstream is concerned), typed by id.
    JVM-side only — this is the test fixture generator."""
    mt = F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                      (F.col(id_col) % 3).cast("int") + 1)
    payload = F.encode(F.col(text_col), "UTF-8")
    return docs.select(
        F.col(id_col).cast("long").alias("media_id"),
        mt.alias("media_type"),
        payload.alias("payload"),
        F.length(payload).cast("int").alias("payload_len"),
        F.sha2(payload, 256).alias("sha"))


def decode_stub(payload: bytes, media_type: str) -> dict:
    """STUB for the codec step.  Deterministic fake dimensions derived from
    the payload hash so tests are stable; a real build replaces this body
    with Pillow / torchaudio / pyav decoding."""
    h = hashlib.sha256(payload).digest()
    if media_type == "image":
        return {"width": 64 + h[0] % 192, "height": 64 + h[1] % 192,
                "n_frames": 1}
    if media_type == "video":
        return {"width": 64 + h[0] % 192, "height": 64 + h[1] % 192,
                "n_frames": 1 + h[2] % 64}
    if media_type == "audio":
        return {"width": 0, "height": 0, "n_frames": 1 + h[2] % 64}
    raise NotImplementedError(f"unknown media type: {media_type}")


def extract_media_metadata(media: DataFrame) -> DataFrame:
    """The decode/feature-extract stage: Arrow-batched ``mapInPandas`` over
    binary payloads → typed metadata struct.  The batch loop is the real
    production shape (bytes in, features out); only decode_stub is fake."""

    def run(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in iterator:
            out = {k: [] for k in ("media_id", "media_type", "payload_len",
                                   "sha", "width", "height", "n_frames")}
            for media_id, media_type, payload, payload_len, sha in zip(
                    pdf["media_id"], pdf["media_type"], pdf["payload"],
                    pdf["payload_len"], pdf["sha"]):
                meta = decode_stub(bytes(payload), media_type)
                out["media_id"].append(media_id)
                out["media_type"].append(media_type)
                out["payload_len"].append(payload_len)
                out["sha"].append(sha)
                out["width"].append(meta["width"])
                out["height"].append(meta["height"])
                out["n_frames"].append(meta["n_frames"])
            yield pd.DataFrame(out)

    return media.mapInPandas(run, META_SCHEMA)


def sample_frames_stub(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling stub for video payloads: emits (media_id, frame_idx)
    rows from the fake frame count — the explode shape a real sampler
    produces; the decoded-frame payload is deliberately absent here."""
    meta = extract_media_metadata(media)
    idx = F.sequence(F.lit(0), F.greatest(F.col("n_frames") - 1, F.lit(0)),
                     F.lit(every_n))
    return (meta.where(F.col("media_type") == "video")
            .select("media_id", F.explode(idx).alias("frame_idx")))
