"""Streaming corpus dedup: a recurring crawl deduped micro-batch by
micro-batch against the accumulated survivor store.

The batch operators already cover both halves (operators/dedup.py:
within-corpus exact/LSH dedup; incremental_dedup for new×base); this
module runs them under ``foreachBatch`` so ingestion is checkpointed and
every micro-batch is idempotent — the streaming twin of
``streaming/incremental.run_incremental_pipeline``:

  1. within-batch exact dedup   — min-id representative per md5(text);
  2. within-batch near-dup reps — LSH pairs → connected components,
     component label (min id) is the representative;
  3. vs-base dedup              — ``incremental_dedup`` (exact semi-join
     + LSH bands new×base ONLY — the base is never re-paired);
  4. survivors append           — per-batch OVERWRITE of
     ``survivors/batch=N`` (+ a per-doc decisions table and a lineage
     row under the same idempotent layout), so a replayed batch_id
     (crash before the checkpoint commit) replaces its half-written
     output instead of duplicating it.

The base read for batch N is the COMMITTED ``survivors`` partitions below
N (those with a ``_SUCCESS`` marker, empty ones included;
``streaming/store.py``) — a retried batch never sees its own partial
output, which is what makes the replay idempotent WITHOUT a
transactional table format.

Scale notes: micro-batch size is bounded by ``maxFilesPerTrigger``; the
expensive pair work is batch×batch (tiny) and batch×base via banded LSH
buckets (never base²); the base fingerprint/signature tables are
recomputed per batch — at a real 100 TB deployment those would be
materialized once and appended per batch (an Iceberg MERGE), noted in
NOTES.md's environment-blocked items.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from palladian_spark.streaming.store import (committed_batches,
                                             read_batches, write_batch)


def _dedup_batch(batch: DataFrame, batch_id: int, base: Optional[DataFrame],
                 id_col: str, text_col: str, threshold: float):
    """Pure-batch kernel (unit-testable without a stream): returns
    (survivors, decisions) DataFrames for one micro-batch."""
    from palladian_spark.graph import connected_components
    from palladian_spark.operators.dedup import (incremental_dedup,
                                                 minhash_dedup_pairs)

    docs = batch.select(id_col, text_col)
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(id_col)
    marked = (docs.withColumn("_rn", F.row_number().over(w))
              .withColumn("_keep_of", F.first(id_col).over(w)))
    within_exact = (marked.where(F.col("_rn") > 1)
                    .select(id_col, F.lit("within_exact").alias("decision"),
                            F.col("_keep_of").cast("string").alias("dup_of"),
                            F.lit(None).cast("double").alias("jaccard")))
    reps1 = marked.where(F.col("_rn") == 1).select(id_col, text_col)

    pairs = minhash_dedup_pairs(reps1, threshold=threshold, id_col=id_col,
                                text_col=text_col)
    comp = connected_components(pairs, src_col="a_id", dst_col="b_id")
    non_reps = comp.where(F.col("node") != F.col("component"))
    within_near = non_reps.select(
        F.col("node").alias(id_col), F.lit("within_near").alias("decision"),
        F.col("component").cast("string").alias("dup_of"),
        F.lit(None).cast("double").alias("jaccard"))
    reps2 = reps1.join(non_reps.select(F.col("node").alias(id_col)),
                       id_col, "left_anti")

    if base is not None:
        dec = incremental_dedup(base, reps2, id_col=id_col,
                                text_col=text_col, threshold=threshold)
        base_exact = dec.where(F.col("dup_exact")).select(
            id_col, F.lit("base_exact").alias("decision"),
            F.lit(None).cast("string").alias("dup_of"),
            F.lit(None).cast("double").alias("jaccard"))
        base_near = dec.where(~F.col("dup_exact")
                              & F.col("near_dup_of").isNotNull()).select(
            id_col, F.lit("base_near").alias("decision"),
            F.col("near_dup_of").cast("string").alias("dup_of"),
            F.col("jaccard"))
        kept_ids = dec.where(~F.col("dup_exact")
                             & F.col("near_dup_of").isNull()).select(id_col)
        vs_base = [base_exact, base_near]
    else:
        kept_ids = reps2.select(id_col)
        vs_base = []

    survivors = reps2.join(kept_ids, id_col, "left_semi")
    kept = kept_ids.select(
        id_col, F.lit("kept").alias("decision"),
        F.lit(None).cast("string").alias("dup_of"),
        F.lit(None).cast("double").alias("jaccard"))
    decisions = within_exact.unionByName(within_near).unionByName(kept)
    for d in vs_base:
        decisions = decisions.unionByName(d)
    return survivors, decisions


def run_streaming_dedup(spark: SparkSession, input_dir: str,
                        output_dir: str, schema: str,
                        id_col: str = "doc_id", text_col: str = "text",
                        threshold: float = 0.5,
                        max_files_per_trigger: Optional[int] = None,
                        available_now: bool = True):
    """readStream(parquet docs) → foreachBatch(dedup vs survivor store).
    With ``available_now`` the query drains what's in ``input_dir`` and
    stops; rerunning processes ONLY new files (checkpointed ingestion).
    Layout: ``survivors/batch=N``, ``decisions/batch=N``,
    ``lineage/batch=N`` — all overwritten per batch (idempotent replay).
    """
    import time

    survivors_dir = f"{output_dir}/survivors"
    decisions_dir = f"{output_dir}/decisions"
    lineage_dir = f"{output_dir}/lineage"
    checkpoint_dir = f"{output_dir}/_checkpoint"

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        bid = int(batch_id)
        base = read_batches(spark, survivors_dir,
                            [b for b in committed_batches(survivors_dir)
                             if b < bid])
        batch_df = batch_df.persist()
        survivors, decisions = _dedup_batch(
            batch_df, bid, base, id_col, text_col, threshold)
        survivors = survivors.persist()
        decisions = decisions.persist()
        n_in = batch_df.count()
        n_kept = survivors.count()
        write_batch(survivors, survivors_dir, bid)
        write_batch(decisions, decisions_dir, bid)
        write_batch(spark.createDataFrame(
            [(bid, n_in, n_kept, time.time())],
            "batch_id long, n_in long, n_kept long, finished_at double"),
            lineage_dir, bid)
        for df in (survivors, decisions, batch_df):
            df.unpersist()

    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(input_dir)
    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        query = writer.trigger(availableNow=True).start()
        query.awaitTermination()
        return query
    return writer.trigger(processingTime="10 seconds").start()
