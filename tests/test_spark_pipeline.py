"""Spark integration tests: operators, pipeline, lineage/resume, P/R gate."""

import glob
import os
import shutil

import pandas as pd
import pytest

from pyspark.sql import functions as F

from palladian_spark.data.transcripts import (
    entity_dictionary_pdf,
    generate_transcripts_df,
    generated_gold_triples_df,
    synthetic_transcripts_pdf,
)
from palladian_spark.evaluation import evaluate_mentions_df, triple_prf
from palladian_spark.linking import link_mentions
from palladian_spark.operators.mentions import (
    assert_text_equality,
    combine_adjacent_df,
    extract_candidates,
    remove_nested_df,
    split_sentences_df,
)
from palladian_spark.pipeline import run_pipeline
from palladian_spark.textproc.taggers import tag_candidates


@pytest.fixture(scope="module")
def transcripts(spark):
    tp, gold = synthetic_transcripts_pdf(n_convs=8, turns_per_conv=10)
    return (spark.createDataFrame(tp).cache(),
            spark.createDataFrame(gold).cache())


def test_extract_candidates_matches_kernel(spark, transcripts):
    df, _ = transcripts
    got = (extract_candidates(df)
           .orderBy("conv_id", "turn_idx", "start").collect())
    rows = df.orderBy("conv_id", "turn_idx").collect()
    expected = []
    for r in rows:
        for ann in tag_candidates(r["text"]):
            expected.append((r["conv_id"], r["turn_idx"], ann.start, ann.value))
    assert [(r["conv_id"], r["turn_idx"], r["start"], r["value"]) for r in got] \
        == sorted(expected, key=lambda x: (x[0], x[1], x[2]))


def test_text_equality_invariant(spark, transcripts):
    df, _ = transcripts
    mentions = extract_candidates(df)
    assert assert_text_equality(df, mentions) == 0


def test_sentence_split(spark, transcripts):
    df, _ = transcripts
    sents = split_sentences_df(df)
    assert sents.count() >= df.count()  # every non-empty turn has ≥1 sentence
    # offsets index into the original text
    joined = sents.join(df, ["conv_id", "turn_idx"])
    bad = joined.where(
        F.expr("substring(text, sent_start + 1, length(sentence))")
        != F.col("sentence")).count()
    assert bad == 0


def test_remove_nested_df(spark):
    rows = [
        ("c", 0, 0, 24, "United States of America", "X", 1.0),
        ("c", 0, 0, 6, "United", "X", 1.0),
        ("c", 0, 2, 20, "long-shadow", "X", 1.0),
        ("c", 0, 12, 15, "aaa", "X", 1.0),
        ("c", 0, 30, 33, "USA", "X", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, start int, end int, value string,"
              " tag string, conf double")
    kept = remove_nested_df(df).orderBy("start").collect()
    # sweep semantics: last KEPT end governs, so (12,15) is dropped because
    # it starts before 24 (end of the kept first span)
    assert [(r["start"], r["end"]) for r in kept] == [(0, 24), (30, 33)]


def test_combine_adjacent_df(spark):
    rows = [
        ("c", 0, 0, 4, "Alte", "LOC", 1.0),
        ("c", 0, 5, 11, "Oper", "LOC", 1.0),      # gap 1, same tag → merge
        ("c", 0, 13, 17, "Bonn", "LOC", 1.0),      # gap 2 → separate
        ("c", 0, 20, 24, "xxxx", "o", 1.0),        # tag "o" dropped
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, start int, end int, value string,"
              " tag string, conf double")
    got = combine_adjacent_df(df).orderBy("start").collect()
    assert [(r["value"], r["start"], r["end"]) for r in got] == [
        ("Alte Oper", 0, 11), ("Bonn", 13, 17)]


def test_link_mentions_exact_and_fuzzy(spark):
    mentions = spark.createDataFrame(
        [("c", 0, 0, 12, "Alice Johnson", "PER", 1.0),
         ("c", 0, 20, 32, "Alice Jonson", "PER", 1.0),   # typo → fuzzy
         ("c", 0, 40, 45, "zzz qqq", "PER", 1.0)],        # no match
        "conv_id string, turn_idx int, start int, end int, value string,"
        " tag string, conf double")
    pdf = entity_dictionary_pdf()
    pdf["entity_id"] = pdf["concept"].str.lower() + ":" + pdf["surface"]
    entity_dict = spark.createDataFrame(pdf)
    linked = {r["value"]: r for r in
              link_mentions(mentions, entity_dict, threshold=0.9).collect()}
    assert linked["Alice Johnson"]["entity_id"] == "per:Alice Johnson"
    assert linked["Alice Johnson"]["link_sim"] == 1.0
    assert linked["Alice Jonson"]["entity_id"] == "per:Alice Johnson"
    assert 0.9 <= linked["Alice Jonson"]["link_sim"] < 1.0
    assert linked["zzz qqq"]["entity_id"] is None


def test_triples_and_pr_gate(spark, transcripts):
    df, gold = transcripts
    result = run_pipeline(spark, df)
    prf = triple_prf(result.triples, gold)
    assert prf.precision >= 0.95
    assert prf.recall >= 0.95


def test_generated_transcripts_pr(spark):
    gen = generate_transcripts_df(spark, n_turns=600, n_convs=20).cache()
    gold = generated_gold_triples_df(gen)
    result = run_pipeline(spark, gen.drop("_gen_id"))
    prf = triple_prf(result.triples, gold)
    assert prf.precision >= 0.95
    assert prf.recall >= 0.95


def _assert_lineage_matches_data(spark, out):
    """Every lineage row describes exactly its bucket's written parquet:
    row_count is the bucket's row count and checksum the same
    sum(pmod(xxhash64(...))) recomputed from the files.  Returns the
    lineage as {bucket: (row_count, checksum)}."""
    actual = {r["bucket"]: (r["n"], r["c"]) for r in
              spark.read.parquet(f"{out}/triples").groupBy("bucket")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.pmod(F.xxhash64("conv_id", "turn_idx", "subj",
                                           "pred", "obj"),
                                F.lit(1_000_000_007))).alias("c"))
              .collect()}
    lineage = {r["bucket"]: (r["row_count"], r["checksum"])
               for r in spark.read.parquet(f"{out}/lineage").collect()}
    for bucket, got in lineage.items():
        assert got == actual.get(bucket, (0, 0)), bucket
    return lineage


def test_pipeline_checkpoint_resume(spark, transcripts, tmp_path):
    df, gold = transcripts
    out = str(tmp_path / "kg")
    first = run_pipeline(spark, df, output_dir=out, n_buckets=4)
    assert first.buckets_computed == 4
    assert sorted(_assert_lineage_matches_data(spark, out)) == [0, 1, 2, 3]
    count_first = first.triples.count()
    # resume: nothing left to do, same output
    second = run_pipeline(spark, df, output_dir=out, n_buckets=4)
    assert second.buckets_computed == 0
    assert second.triples.count() == count_first
    assert second.lineage.count() == 4
    # bucket-wise output == the one-shot run, row for row
    one_shot = run_pipeline(spark, df).triples
    assert sorted(map(tuple, second.triples.collect())) \
        == sorted(map(tuple, one_shot.collect()))
    shutil.rmtree(out)


def test_pipeline_empty_and_sparse_buckets(spark, transcripts, tmp_path):
    """A bucket with no rows still completes: its lineage row is
    (row_count 0, checksum 0), so the metrics observed on an empty write
    must arrive."""
    df, _ = transcripts
    empty = run_pipeline(spark, df.limit(0), output_dir=str(tmp_path / "e"),
                         n_buckets=4)
    assert empty.buckets_computed == 4
    assert empty.triples.count() == 0
    assert sorted((r["bucket"], r["row_count"], r["checksum"])
                  for r in empty.lineage.collect()) \
        == [(b, 0, 0) for b in range(4)]

    # more buckets than conversations: at least n_buckets - 3 are empty
    convs = sorted(r["conv_id"] for r in
                   df.select("conv_id").distinct().collect())[:3]
    few = df.where(F.col("conv_id").isin(convs))
    out = str(tmp_path / "s")
    sparse = run_pipeline(spark, few, output_dir=out, n_buckets=8)
    assert sparse.buckets_computed == 8
    lineage = _assert_lineage_matches_data(spark, out)
    assert sorted(lineage) == list(range(8))
    assert sum(v == (0, 0) for v in lineage.values()) >= 5
    assert sorted(map(tuple, sparse.triples.collect())) \
        == sorted(map(tuple, run_pipeline(spark, few).triples.collect()))


def test_pipeline_resume_after_crash_before_lineage(spark, transcripts,
                                                    tmp_path):
    """A crash between a bucket's triples write and its lineage append
    leaves an orphan triples directory.  The rerun recomputes only that
    bucket and overwrites the orphan: no duplicated or lost rows."""
    df, _ = transcripts
    out = str(tmp_path / "kg")
    run_pipeline(spark, df, output_dir=out, n_buckets=4)
    lineage = _assert_lineage_matches_data(spark, out)
    lost = max(lineage, key=lambda b: lineage[b][0])
    assert lineage[lost][0] > 0   # the orphan holds rows a rerun could duplicate
    # drop the lineage part file holding that bucket's row (one row per file)
    lineage_dir = os.path.join(out, "lineage")
    parts = [f for f in glob.glob(os.path.join(lineage_dir, "part-*.parquet"))
             if lost in set(pd.read_parquet(f)["bucket"])]
    assert len(parts) == 1
    assert set(pd.read_parquet(parts[0])["bucket"]) == {lost}
    os.remove(parts[0])
    assert os.path.isdir(os.path.join(out, "triples", f"bucket={lost}"))

    rerun = run_pipeline(spark, df, output_dir=out, n_buckets=4)
    assert rerun.buckets_computed == 1
    assert _assert_lineage_matches_data(spark, out) == lineage
    one_shot = run_pipeline(spark, df).triples
    assert sorted(map(tuple, rerun.triples.collect())) \
        == sorted(map(tuple, one_shot.collect()))


def test_mention_evaluation_scores(spark):
    pred = spark.createDataFrame(
        [("c", 0, 0, 5, "exact", "PER"),     # CORRECT
         ("c", 0, 10, 15, "wrong", "ORG"),   # ERROR3 (congruent, diff tag)
         ("c", 0, 30, 40, "spur", "PER")],   # ERROR1
        "conv_id string, turn_idx int, start int, end int, value string, tag string")
    gold = spark.createDataFrame(
        [("c", 0, 0, 5, "exact", "PER"),
         ("c", 0, 10, 15, "wrong", "PER"),
         ("c", 0, 50, 55, "missed", "LOC")],  # ERROR2
        "conv_id string, turn_idx int, start int, end int, value string, tag string")
    scores = evaluate_mentions_df(pred, gold)
    assert scores["exact_precision"] == pytest.approx(1 / 3)
    assert scores["exact_recall"] == pytest.approx(1 / 3)
    # MUC gives half credit for ERROR3: (1 + 2*1) / (2*3)
    assert scores["muc_precision"] == pytest.approx(0.5)
