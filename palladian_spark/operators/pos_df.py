"""POS tagging & phrase chunking as DataFrame stages (SURVEY.md §2.7).

  * ``pos_tag_df``        — rule tagger as ONE Catalyst CASE chain over the
                            token table (JVM, codegen, SQL-oracle-checkable).
  * ``universal_pos_tag_df`` — the PalladianPosTagger parity path:
                            broadcast UniversalPosTagger, a ``turn_stage``
                            kernel (operators/mentions.py) with a per-token
                            memo.
  * ``np_chunks_df``      — marker-based chunking as gaps-and-islands:
                            lag() flags island starts, running sum makes
                            island ids, one groupBy folds each island into
                            a chunk.  Same shape as the reference's
                            adjacency merge (PalladianNer.java:573-601).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (
    IntegerType, StringType, StructField, StructType,
)

from palladian_spark.operators.mentions import turn_stage, word_tokens_df
from palladian_spark.textproc.pos import (
    CLOSED_CLASS, NP_TAGS, VP_TAGS, UniversalPosTagger,
)
from palladian_spark.textproc.tokenize import word_tokens


def rule_pos_col(token):
    """The rule tagger as a Catalyst expression — MUST stay in lockstep
    with textproc.pos.rule_pos_tag (equivalence-tested)."""
    low = F.lower(token)
    closed = F.create_map(
        *[F.lit(x) for kv in CLOSED_CLASS.items() for x in kv])
    return (
        F.when(~token.rlike(r"[\p{L}\p{N}]"), F.lit("."))
        .when(token.rlike(r"^[0-9]+([.,][0-9]+)?$"), F.lit("CD"))
        .when(closed[low].isNotNull(), closed[low])
        .when(token.rlike(r"^\p{Lu}"), F.lit("NNP"))
        .when(low.rlike("ly$"), F.lit("RB"))
        .when(low.rlike("ing$"), F.lit("VBG"))
        .when(low.rlike("ed$"), F.lit("VBD"))
        .when(low.rlike("(^|[^s])s$"), F.lit("VBZ"))
        .otherwise(F.lit("NN")))


def pos_tag_df(transcripts: DataFrame) -> DataFrame:
    """Token table + rule tags: offsets from the real tokenizer (Arrow
    stage), tagging fully JVM-side."""
    toks = word_tokens_df(transcripts)
    return toks.withColumn("pos", rule_pos_col(F.col("token")))


POS_SCHEMA = StructType([
    StructField("conv_id", StringType()),
    StructField("turn_idx", IntegerType()),
    StructField("tok_idx", IntegerType()),
    StructField("tok_start", IntegerType()),
    StructField("token", StringType()),
    StructField("pos", StringType()),
])


def universal_pos_tag_df(transcripts: DataFrame, corpus=None) -> DataFrame:
    """UniversalClassifier POS tagger (PalladianPosTagger parity:
    char-1..7-gram TEXT classifier + nominal-feature Bayes, summed —
    textproc.pos.UniversalPosTagger) as an Arrow stage.

    The trained tagger (three count dicts) is broadcast once; each task
    memoizes per distinct token, so the per-row Python inside the Arrow
    batch collapses to one classification per VOCABULARY entry — the
    right cost model for natural text, where the type/token ratio
    vanishes at corpus scale."""
    spark = transcripts.sparkSession
    tagger_bc = spark.sparkContext.broadcast(UniversalPosTagger(corpus))

    def make_kernel():
        tagger, cache = tagger_bc.value, {}

        def kernel(text: str) -> Iterator[tuple]:
            for i, tok in enumerate(word_tokens(text)):
                tag = cache.get(tok.value)
                if tag is None:
                    tag = tagger.tag_word(tok.value)
                    if len(cache) < 500_000:
                        cache[tok.value] = tag
                yield (i, tok.start, tok.value, tag)
        return kernel

    return turn_stage(transcripts, POS_SCHEMA, make_kernel)


def np_chunks_df(tagged: DataFrame, kind: str = "NP") -> DataFrame:
    """Maximal same-set tag runs → chunks, gaps-and-islands JVM-side.
    Input: (conv_id, turn_idx, tok_idx, tok_start, token, pos)."""
    tags = sorted(NP_TAGS if kind == "NP" else VP_TAGS)
    in_set = F.col("pos").isin(tags)
    w = Window.partitionBy("conv_id", "turn_idx").orderBy("tok_idx")
    flagged = (tagged
               .withColumn("_in", in_set.cast("int"))
               .withColumn("_new", (F.col("_in") == 1)
                           & (F.coalesce(F.lag("_in").over(w), F.lit(0)) == 0))
               .withColumn("_island",
                           F.sum(F.col("_new").cast("int")).over(
                               w.rowsBetween(Window.unboundedPreceding, 0))))
    return (flagged.where(F.col("_in") == 1)
            .groupBy("conv_id", "turn_idx", "_island")
            .agg(F.min("tok_start").alias("chunk_start"),
                 F.max(F.col("tok_start") + F.length("token")).alias("chunk_end"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.struct("tok_idx", "token"))),
                         lambda s: s["token"]), " ").alias("phrase"))
            .withColumn("chunk_tag", F.lit(kind))
            .drop("_island"))
