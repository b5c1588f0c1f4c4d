"""Incremental transcript ingestion via Structured Streaming.

The reference is batch-only (single JVM, SURVEY.md §2.9); this module is
the Spark-native extension: the SAME fused batch stage
(extract_canonical_triples) runs unchanged under ``foreachBatch``, so batch
and streaming share one code path and one set of correctness tests.

  * ``stream_transcripts``       — file-source readStream with the fixed
                                   input schema (BASELINE.json input_hint).
  * ``run_incremental_pipeline`` — foreachBatch driver: each micro-batch
                                   appends triples + a lineage row keyed by
                                   batch_id; the streaming checkpoint gives
                                   exactly-once file-source progress, the
                                   lineage table gives auditability (same
                                   contract as pipeline.run_pipeline's
                                   bucket lineage).
  * ``windowed_mention_counts``  — watermarked sliding-window aggregation
                                   over the mention stream (the late-data
                                   pattern for monitoring dashboards).

Scale notes: ``maxFilesPerTrigger`` bounds micro-batch size; state for the
windowed agg is bounded by the watermark; foreachBatch output is plain
parquet/Iceberg appends, so downstream consumers never see partial
batches.
"""

from __future__ import annotations

import time
from typing import Optional, Sequence

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from palladian_spark.streaming.store import write_batch

TRANSCRIPT_SCHEMA = ("conv_id string, turn_idx int, role string, "
                     "text string, tool string, ts timestamp")


def stream_transcripts(spark: SparkSession, input_dir: str,
                       max_files_per_trigger: Optional[int] = None) -> DataFrame:
    reader = (spark.readStream
              .schema(TRANSCRIPT_SCHEMA)
              .format("parquet"))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(input_dir)


def run_incremental_pipeline(spark: SparkSession, input_dir: str,
                             output_dir: str, model,
                             entity_dict: DataFrame,
                             patterns: Optional[Sequence] = None,
                             available_now: bool = True):
    """readStream → foreachBatch(batch KG pipeline) → append triples +
    lineage.  With ``available_now`` the query drains everything currently
    in ``input_dir`` and stops — rerunning later processes ONLY new files
    (checkpoint-resume for ingestion)."""
    from palladian_spark.relations import (
        DEFAULT_PATTERNS, extract_canonical_triples)
    patterns = tuple(patterns) if patterns is not None else tuple(DEFAULT_PATTERNS)

    triples_dir = f"{output_dir}/triples"
    lineage_dir = f"{output_dir}/lineage"
    checkpoint_dir = f"{output_dir}/_checkpoint"

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # fused extraction+linking (one Arrow stage, no per-batch mapping
        # jobs or stream persists — the micro-batch latency win is larger
        # than in batch mode; equivalence pinned by
        # tests/test_fused_canonicalize.py)
        obs = Observation()
        triples = (extract_canonical_triples(batch_df, model, entity_dict,
                                             patterns=patterns)
                   .observe(obs, F.count(F.lit(1)).alias("n")))
        # idempotent sink: each micro-batch OVERWRITES its own partition
        # directory, so a retried/replayed batch_id (driver crash before
        # the checkpoint commit) replaces its half-written output instead
        # of appending duplicates — foreachBatch's documented exactly-once
        # recipe (same pattern as pipeline.run_pipeline's bucket dirs)
        write_batch(triples, triples_dir, batch_id)
        # the row count is observed on the write: no persist, no extra pass
        lineage = spark.createDataFrame(
            [(int(batch_id), "triples", obs.get["n"], time.time())],
            "batch_id long, stage string, row_count long, finished_at double")
        # lineage gets the same per-batch overwrite as the triples: a
        # replayed batch_id (crash between parquet write and checkpoint
        # commit) must replace its audit row, not double-count it.
        # LAYOUT NOTE: round 1 wrote flat appended files here; an
        # output_dir from that era must be migrated (or started fresh)
        # before resuming — parquet refuses mixed flat/partitioned dirs
        write_batch(lineage, lineage_dir, batch_id)

    stream = stream_transcripts(spark, input_dir)
    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        query = writer.trigger(availableNow=True).start()
        query.awaitTermination()
        return query
    return writer.trigger(processingTime="10 seconds").start()


def windowed_mention_counts(transcripts_stream: DataFrame,
                            window: str = "1 hour",
                            slide: str = "30 minutes",
                            watermark: str = "2 hours") -> DataFrame:
    """Watermarked sliding-window turn/char counts per conversation — the
    late-data-tolerant monitoring aggregation.  State is dropped once the
    watermark passes a window's end."""
    return (transcripts_stream
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window, slide), F.col("conv_id"))
            .agg(F.count("*").alias("n_turns"),
                 F.sum(F.length("text")).alias("n_chars")))
