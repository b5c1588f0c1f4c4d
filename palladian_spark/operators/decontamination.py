"""Benchmark decontamination — flag training documents that share word
n-grams with an evaluation set.

Every serious training-data pipeline runs this stage: any document
containing a long-enough n-gram from a benchmark is suspect (the
benchmark leaked into the corpus).  Relational shape:

  eval n-grams  — distinct n-grams of the (small) eval set; Catalyst
                  broadcasts the table when it fits, falls back to a
                  shuffle join on the n-gram key when it does not —
                  both sides are just (ngram) rows, so the op scales to
                  an eval SUITE, not only one benchmark.
  doc n-grams   — explode per training document (offset explode, all
                  codegen), inner-join against the eval n-grams, count
                  DISTINCT matches per document.  Both sides are hashed
                  to int64 (xxhash64 — the dedup-family convention)
                  BEFORE the join, so the shuffle carries 8-byte keys
                  instead of ~n·word-length strings; the matched-set
                  distribution is identical modulo 2⁻⁶⁴ collisions.
  output        — every training doc with n_hits (0 via left join), so
                  the caller chooses the threshold (≥1 = drop, or keep
                  with a contamination score).
  spans         — span_overlap reports the LONGEST CONTIGUOUS run of
                  matched n-grams per document as a token length — the
                  signal real decontamination pipelines gate on (a 50-
                  token verbatim quote ≫ 8 scattered collocations).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _word_ngrams(text_col, n: int):
    toks = F.split(F.lower(text_col), " ")
    cnt = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(cnt - (n - 1), F.lit(1)))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    # short documents yield truncated trailing windows — drop them so
    # only FULL n-grams count as contamination evidence
    full = F.filter(
        grams, lambda g: F.size(F.split(g, " ")) == n)
    return F.array_distinct(full)


def ngram_overlap_flags(docs: DataFrame, eval_docs: DataFrame, n: int = 8,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """(id, n_hits): distinct eval n-grams found in each training doc.

    The join key is xxhash64(ngram), not the raw string — per-doc
    distinctness is applied on strings first (array_distinct inside
    _word_ngrams), so hashing after the explode is injective on the
    joined multiset modulo negligible 64-bit collisions, and the
    shuffle/broadcast width drops to 8 bytes per key."""
    eval_grams = (eval_docs
                  .select(F.explode(_word_ngrams(F.col(text_col), n))
                          .alias("ngram"))
                  .select(F.xxhash64("ngram").alias("gh"))
                  .distinct())
    doc_grams = (docs
                 .select(id_col,
                         F.explode(_word_ngrams(F.col(text_col), n))
                         .alias("ngram"))
                 .select(id_col, F.xxhash64("ngram").alias("gh")))
    hits = (doc_grams.join(eval_grams, "gh")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_hits")))
    return (docs.select(id_col).join(hits, id_col, "left")
            .select(id_col,
                    F.coalesce("n_hits", F.lit(0)).alias("n_hits")))


def _positional_ngrams(text_col, n: int):
    """Array of FULL n-grams in document order (no dedup) — element k is
    the gram starting at token k; empty array for docs shorter than n."""
    toks = F.split(F.lower(text_col), " ")
    cnt = F.size(toks)
    idx = F.when(cnt >= n, F.sequence(F.lit(1), cnt - (n - 1))) \
        .otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))


def span_overlap(docs: DataFrame, eval_docs: DataFrame, n: int = 8,
                 id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """(id, max_span_tokens): length in TOKENS of the longest contiguous
    stretch of each training doc whose every n-gram appears in the eval
    set — i.e. a run of r consecutive matched n-grams = a shared span of
    r + n − 1 tokens.  0 when nothing matches.

    This is the gate real decontamination pipelines use: scattered
    n-gram collocations are noise, a long verbatim quote is leakage.
    Shape: positional doc grams (posexplode, order preserved) hash-join
    the eval grams, then the classic gap-and-islands trick
    (pos − row_number over matched positions is constant within a run)
    groups runs.  The window sorts only MATCHED positions — a tiny
    fraction of |tokens| — so the cost profile stays join-dominated.
    """
    from pyspark.sql import Window

    eval_grams = (eval_docs
                  .select(F.explode(_positional_ngrams(F.col(text_col), n))
                          .alias("ngram"))
                  .select(F.xxhash64("ngram").alias("gh"))
                  .distinct())
    doc_grams = (docs
                 .select(id_col,
                         F.posexplode(_positional_ngrams(F.col(text_col), n))
                         .alias("pos", "ngram"))
                 .select(id_col, "pos", F.xxhash64("ngram").alias("gh")))
    matched = doc_grams.join(eval_grams, "gh").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    runs = (matched
            .withColumn("_grp", F.col("pos") - F.row_number().over(w))
            .groupBy(id_col, "_grp")
            .agg(F.count(F.lit(1)).alias("_run")))
    best = (runs.groupBy(id_col)
            .agg((F.max("_run") + F.lit(n - 1)).alias("max_span_tokens")))
    return (docs.select(id_col).join(best, id_col, "left")
            .select(id_col,
                    F.coalesce("max_span_tokens", F.lit(0))
                    .cast("int").alias("max_span_tokens")))
