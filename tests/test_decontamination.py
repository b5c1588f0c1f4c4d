"""Benchmark decontamination (operators/decontamination.py, round 3)."""


def test_ngram_overlap_and_filter(spark):
    from palladian_spark.operators.decontamination import ngram_overlap_flags
    eval_docs = spark.createDataFrame(
        [(100, "the secret benchmark answer is forty two exactly")],
        "doc_id long, text string")
    train = spark.createDataFrame(
        [(1, "clean document about ships and harbors in old towns"),
         (2, "leaked copy the secret benchmark answer is forty two "
             "exactly end"),
         (3, "partial overlap secret benchmark answer here only"),
         (4, "tiny doc")],
        "doc_id long, text string")
    flags = {r["doc_id"]: r["n_hits"]
             for r in ngram_overlap_flags(train, eval_docs, n=5).collect()}
    assert flags[1] == 0
    assert flags[2] >= 1          # contains full 5-grams of the benchmark
    assert flags[3] == 0          # only a 3-word fragment — below n
    assert flags[4] == 0          # shorter than n → no full n-grams


def test_span_overlap_longest_run(spark):
    # doc 2 embeds an 8-token verbatim quote → 4 consecutive matched
    # 5-grams → span = 4 + 5 − 1 = 8 tokens; doc 3's fragment is below
    # n so it reports 0; a lone matched 5-gram reports exactly 5
    from palladian_spark.operators.decontamination import span_overlap
    eval_docs = spark.createDataFrame(
        [(100, "the secret benchmark answer is forty two exactly")],
        "doc_id long, text string")
    train = spark.createDataFrame(
        [(1, "clean document about ships and harbors in old towns"),
         (2, "leaked copy the secret benchmark answer is forty two "
             "exactly end"),
         (3, "partial overlap secret benchmark answer here only"),
         (4, "one hit secret benchmark answer is forty then diverges "
             "completely elsewhere")],
        "doc_id long, text string")
    spans = {r["doc_id"]: r["max_span_tokens"]
             for r in span_overlap(train, eval_docs, n=5).collect()}
    assert spans[1] == 0
    assert spans[2] == 8          # full 8-token quote
    assert spans[3] == 0
    assert spans[4] == 5          # exactly one matched 5-gram


def test_span_overlap_two_disjoint_runs_takes_max(spark):
    from palladian_spark.operators.decontamination import span_overlap
    eval_docs = spark.createDataFrame(
        [(0, "a b c d e f"), (1, "p q r s t")],
        "doc_id long, text string")
    # doc has "a b c d e f" (span 6 = two consecutive 5-grams) and,
    # later, "p q r s t" (span 5); max must be 6
    train = spark.createDataFrame(
        [(1, "x a b c d e f y z w p q r s t u")],
        "doc_id long, text string")
    got = span_overlap(train, eval_docs, n=5).collect()
    assert got[0]["max_span_tokens"] == 6


def test_case_insensitive_matching(spark):
    from palladian_spark.operators.decontamination import (
        ngram_overlap_flags)
    eval_docs = spark.createDataFrame(
        [(0, "Alpha Beta Gamma Delta Epsilon")],
        "doc_id long, text string")
    train = spark.createDataFrame(
        [(1, "prefix alpha beta gamma delta epsilon suffix")],
        "doc_id long, text string")
    flags = ngram_overlap_flags(train, eval_docs, n=5).collect()
    assert flags[0]["n_hits"] == 1
