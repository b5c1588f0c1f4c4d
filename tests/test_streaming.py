"""Structured-Streaming incremental ingestion tests: the batch pipeline
under foreachBatch, checkpointed file-source progress, watermarked window
aggregation."""

import glob
import os

import pytest

from pyspark.sql import functions as F


@pytest.fixture()
def workdir(tmp_path):
    (tmp_path / "in").mkdir()
    (tmp_path / "out").mkdir()
    return tmp_path


def _write_batch(spark, in_dir, conv_prefix, n):
    from palladian_spark.data.transcripts import synthetic_transcripts_pdf
    tp, gold = synthetic_transcripts_pdf(n_convs=n, turns_per_conv=4)
    tp["conv_id"] = conv_prefix + "-" + tp["conv_id"]
    gold["conv_id"] = conv_prefix + "-" + gold["conv_id"]
    spark.createDataFrame(tp).coalesce(1).write.mode("append") \
        .parquet(str(in_dir))
    return gold


def test_incremental_pipeline_checkpoints(spark, workdir):
    from palladian_spark.pipeline import default_model
    from palladian_spark.data.transcripts import entity_dictionary_pdf
    from palladian_spark.streaming.incremental import run_incremental_pipeline

    in_dir, out_dir = str(workdir / "in"), str(workdir / "out")
    entity_dict = spark.createDataFrame(
        entity_dictionary_pdf().assign(
            entity_id=lambda d: d["concept"].str.lower() + ":" + d["surface"]))
    model = default_model()

    gold1 = _write_batch(spark, in_dir, "b1", 4)
    run_incremental_pipeline(spark, in_dir, out_dir, model, entity_dict)
    t1 = spark.read.parquet(f"{out_dir}/triples")
    n1 = t1.count()
    assert n1 > 0

    # second drain with NO new input: nothing reprocessed
    run_incremental_pipeline(spark, in_dir, out_dir, model, entity_dict)
    assert spark.read.parquet(f"{out_dir}/triples").count() == n1

    # new files arrive → only the delta is processed, output accumulates
    _write_batch(spark, in_dir, "b2", 3)
    run_incremental_pipeline(spark, in_dir, out_dir, model, entity_dict)
    t3 = spark.read.parquet(f"{out_dir}/triples")
    assert t3.count() > n1
    # batch-1 conversations were not duplicated by the second drain
    b1 = t3.where(F.col("conv_id").startswith("b1-")).count()
    assert b1 == n1 or b1 == t1.where(
        F.col("conv_id").startswith("b1-")).count()

    # lineage has one row per non-empty micro-batch
    lineage = spark.read.parquet(f"{out_dir}/lineage").collect()
    assert len(lineage) >= 2
    assert {r["stage"] for r in lineage} == {"triples"}


def test_streaming_triples_match_batch(spark, workdir):
    """The foreachBatch path must produce exactly the batch pipeline's
    triples for the same input."""
    from palladian_spark.pipeline import default_model
    from palladian_spark.data.transcripts import entity_dictionary_pdf
    from palladian_spark.relations import canonicalize_triples, extract_triples
    from palladian_spark.streaming.incremental import run_incremental_pipeline

    in_dir, out_dir = str(workdir / "in"), str(workdir / "out")
    entity_dict = spark.createDataFrame(
        entity_dictionary_pdf().assign(
            entity_id=lambda d: d["concept"].str.lower() + ":" + d["surface"]))
    model = default_model()
    _write_batch(spark, in_dir, "s", 5)

    run_incremental_pipeline(spark, in_dir, out_dir, model, entity_dict)
    streamed = {tuple(r) for r in spark.read.parquet(f"{out_dir}/triples")
                .select("conv_id", "turn_idx", "subj", "pred", "obj").collect()}

    batch_input = spark.read.parquet(in_dir)
    batch = {tuple(r) for r in canonicalize_triples(
        extract_triples(batch_input, model), entity_dict)
        .select("conv_id", "turn_idx", "subj", "pred", "obj").collect()}
    assert streamed == batch


def test_windowed_mention_counts_schema(spark, workdir):
    """Watermarked window agg compiles and runs via availableNow into an
    in-memory sink."""
    from palladian_spark.streaming.incremental import (
        stream_transcripts, windowed_mention_counts)
    in_dir = str(workdir / "in")
    _write_batch(spark, in_dir, "w", 3)
    counts = windowed_mention_counts(stream_transcripts(spark, in_dir))
    q = (counts.writeStream.format("memory").queryName("win_counts")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    # append mode only emits closed windows; schema is the contract here
    result = spark.sql("SELECT * FROM win_counts")
    assert set(result.columns) == {"window", "conv_id", "n_turns", "n_chars"}


def test_lineage_idempotent_under_replay(spark, workdir):
    """ADVICE round-2 fix: a replayed batch_id (checkpoint lost between
    parquet write and commit) must OVERWRITE its lineage row, not append a
    duplicate — the audit table stays one row per batch."""
    import shutil
    from palladian_spark.pipeline import default_model
    from palladian_spark.data.transcripts import entity_dictionary_pdf
    from palladian_spark.streaming.incremental import run_incremental_pipeline

    in_dir, out_dir = str(workdir / "in"), str(workdir / "out")
    entity_dict = spark.createDataFrame(
        entity_dictionary_pdf().assign(
            entity_id=lambda d: d["concept"].str.lower() + ":" + d["surface"]))
    model = default_model()
    _write_batch(spark, in_dir, "b1", 3)
    run_incremental_pipeline(spark, in_dir, out_dir, model, entity_dict)
    triples_before = spark.read.parquet(f"{out_dir}/triples").count()
    lineage_before = spark.read.parquet(f"{out_dir}/lineage").collect()

    # lose the checkpoint → the whole input replays under the SAME batch ids
    shutil.rmtree(f"{out_dir}/_checkpoint")
    run_incremental_pipeline(spark, in_dir, out_dir, model, entity_dict)

    lineage_after = spark.read.parquet(f"{out_dir}/lineage").collect()
    assert len(lineage_after) == len(lineage_before)   # no duplicate rows
    assert {r["batch_id"] for r in lineage_after} == \
        {r["batch_id"] for r in lineage_before}
    assert spark.read.parquet(f"{out_dir}/triples").count() == triples_before
