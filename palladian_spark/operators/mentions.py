"""Mention-detection operators over a transcripts DataFrame.

The hot path is ONE Arrow-batched ``mapInPandas`` stage per turn batch
(tagging is embarrassingly parallel per turn — the reference processes each
text independently, core/Tagger.java:25), with the NER model broadcast.
No shuffle is required for extraction; the only exchanges in the pipeline
are training aggregations and the final canonicalization.

Relational forms of the rule-chain set operations are provided alongside
(window de-nesting, gaps-and-islands adjacency merge, broadcast-join
dictionary switch) so they compose with arbitrary mention DataFrames and
stay JVM-side where the data is already exploded.
"""

from __future__ import annotations

from typing import Iterator, List, Optional

import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (
    DoubleType, IntegerType, StringType, StructField, StructType,
)

from palladian_spark.ner.model import NerModel
from palladian_spark.ner.tag import get_annotations
from palladian_spark.textproc.taggers import (
    Annotation, remove_nested, tag_candidates, tag_dates, tag_smileys, tag_urls,
)
from palladian_spark.textproc.tokenize import sentences as split_sentences

MENTION_SCHEMA = StructType([
    StructField("conv_id", StringType()),
    StructField("turn_idx", IntegerType()),
    StructField("start", IntegerType()),
    StructField("end", IntegerType()),
    StructField("value", StringType()),
    StructField("tag", StringType()),
    StructField("conf", DoubleType()),
])

TOKEN_SCHEMA = StructType([
    StructField("conv_id", StringType()),
    StructField("turn_idx", IntegerType()),
    StructField("tok_idx", IntegerType()),
    StructField("tok_start", IntegerType()),
    StructField("token", StringType()),
])

SENTENCE_SCHEMA = StructType([
    StructField("conv_id", StringType()),
    StructField("turn_idx", IntegerType()),
    StructField("sent_idx", IntegerType()),
    StructField("sent_start", IntegerType()),
    StructField("sentence", StringType()),
])


def repartition_salted(df: DataFrame, num_partitions: Optional[int] = None,
                       salt_cols: tuple = ("conv_id", "turn_idx")) -> DataFrame:
    """Skew-aware repartition: hash on ``salt_cols`` (default the turn key)
    so a hot conversation spreads across partitions.  Lossless for all
    row-local stages (mention extraction never needs cross-turn state —
    SURVEY.md §2.9)."""
    cols = [F.xxhash64(*salt_cols)]
    if num_partitions:
        return df.repartition(num_partitions, *cols)
    return df.repartition(*cols)


def ensure_map_parallelism(df: DataFrame,
                           salt_cols: tuple = ("conv_id", "turn_idx")
                           ) -> DataFrame:
    """Guarantee the Python-heavy Arrow stages get full-cluster parallelism.

    When the upstream plan ends in a small scan or an AQE-coalesced shuffle
    (tiny inputs collapse to 1 partition), a downstream ``mapInPandas`` NER
    stage would run on one core even though its cost is CPU-bound in Python,
    not I/O-bound.  An explicit numbered repartition (which AQE respects and
    never re-coalesces) on the salted key fixes both the parallelism and the
    hot-conversation skew in one exchange.  The shuffled payload is just the
    turn text — cheap relative to the per-turn NER cost.

    The repartition is CONDITIONAL: a 100 TB Iceberg/parquet scan already
    yields thousands of splits (≥ target), and forcing a numbered shuffle
    there would move the whole corpus for nothing — so we only add the
    exchange when the plan genuinely under-parallelizes.

    The guard is DRIVER-ONLY (no job): ``df.inputFiles()`` (a catalog/
    file-index lookup) plus a scan of the optimized logical plan for
    shuffle-introducing operators.  Round 1 inspected
    ``df.rdd.getNumPartitions()``, which under AQE eagerly materializes
    upstream shuffle stages at plan-build time — fine locally, but on a
    busy cluster it launches jobs before the query even runs.  The
    repartition is skipped ONLY for a plain wide file scan (≥ target
    files, no upstream join/agg/window — maxPartitionBytes can only split
    a scan further); any plan whose output partitioning AQE may have
    coalesced (post-shuffle), and any few-file or in-memory input, gets
    the salted exchange — the shuffled payload is turn text, cheap next
    to the Python stage it feeds.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism * 2
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files >= target and not _plan_may_shuffle(df):
        return df
    return repartition_salted(df, target, salt_cols)


_SHUFFLE_NODE_RE = None


def _plan_may_shuffle(df: DataFrame) -> bool:
    """True if the optimized logical plan contains an operator whose
    physical form introduces an exchange (which AQE may then coalesce to
    few partitions).  Conservative: unknown → True."""
    global _SHUFFLE_NODE_RE
    import re as _re
    if _SHUFFLE_NODE_RE is None:
        _SHUFFLE_NODE_RE = _re.compile(
            r"^\s*[+:-]*\s*'?(Join|Aggregate|Window|Sort|Repartition|"
            r"Distinct|Deduplicate|Intersect|Except|GlobalLimit)\b",
            _re.MULTILINE)
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        return True
    return bool(_SHUFFLE_NODE_RE.search(plan))


def _batch_tagger(tagger_fn):
    """Wrap a text→[Annotation] kernel into a mapInPandas function."""
    def run(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in iterator:
            out = {k: [] for k in
                   ("conv_id", "turn_idx", "start", "end", "value", "tag", "conf")}
            for conv_id, turn_idx, text in zip(
                    pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
                if text is None:
                    continue
                for ann in tagger_fn(text):
                    scores = getattr(ann, "scores", None)
                    out["conv_id"].append(conv_id)
                    out["turn_idx"].append(turn_idx)
                    out["start"].append(ann.start)
                    out["end"].append(ann.start + len(ann.value))
                    out["value"].append(ann.value)
                    out["tag"].append(ann.tag)
                    out["conf"].append(float(scores.get(ann.tag, 1.0)) if scores else 1.0)
            yield pd.DataFrame(out)
    return run


def extract_mentions(transcripts: DataFrame, model: NerModel,
                     tag_urls_too: bool = True,
                     tag_dates_too: bool = True) -> DataFrame:
    """The full NER chain (SURVEY.md §2.5 #1-#15) as one fused Arrow stage.

    The model is shipped once per executor via a Spark broadcast; each Arrow
    batch of turns yields a mention batch.  Output is the exploded long
    format: one row per mention.
    """
    spark = transcripts.sparkSession
    model_bc = spark.sparkContext.broadcast(model)
    cache: dict = {}

    def kernel(text: str):
        return get_annotations(text, model_bc.value,
                               tag_urls_too=tag_urls_too,
                               tag_dates_too=tag_dates_too,
                               classify_cache=cache)

    return (ensure_map_parallelism(transcripts)
            .select("conv_id", "turn_idx", "text")
            .mapInPandas(_batch_tagger(kernel), MENTION_SCHEMA))


def extract_candidates(transcripts: DataFrame) -> DataFrame:
    """StringTagger-only candidate scan (SURVEY.md §2.3), tag=CANDIDATE."""
    return (ensure_map_parallelism(transcripts)
            .select("conv_id", "turn_idx", "text")
            .mapInPandas(_batch_tagger(tag_candidates), MENTION_SCHEMA))


def word_tokens_df(transcripts: DataFrame) -> DataFrame:
    """Word tokenization with character offsets (WordTokenizer.java:22-34,
    TOKEN_SPLIT_REGEX Tokenizer.java:27) as an Arrow-batched stage — the
    offset-preserving variant that JVM ``regexp_extract_all`` can't produce."""
    from palladian_spark.textproc.tokenize import word_tokens

    def run(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in iterator:
            out = {k: [] for k in
                   ("conv_id", "turn_idx", "tok_idx", "tok_start", "token")}
            for conv_id, turn_idx, text in zip(
                    pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
                if text is None:
                    continue
                for i, tok in enumerate(word_tokens(text)):
                    out["conv_id"].append(conv_id)
                    out["turn_idx"].append(turn_idx)
                    out["tok_idx"].append(i)
                    out["tok_start"].append(tok.start)
                    out["token"].append(tok.value)
            yield pd.DataFrame(out)

    return (ensure_map_parallelism(transcripts)
            .select("conv_id", "turn_idx", "text")
            .mapInPandas(run, TOKEN_SCHEMA))


def word_ngrams_df(tokens: DataFrame, max_n: int = 3,
                   skip_grams: bool = False) -> DataFrame:
    """Word n-grams 1..max_n (NGramWrapperIterator.java:35-71) and, with
    ``skip_grams``, the 'first last' skip-gram of every >2-word gram
    (SkipGramWrapperIterator.java:30-54) — from the token table via
    lead() windows: ONE shuffle on the turn key, everything else codegen.

    Input: (conv_id, turn_idx, tok_idx, token, …); output adds
    (n, kind ∈ {gram, skip}, gram).  Callers must deduplicate duplicate
    (conv_id, turn_idx) turns first — lead() would interleave them.
    """
    w = Window.partitionBy("conv_id", "turn_idx").orderBy("tok_idx")
    cols = {"_t0": F.col("token")}
    for k in range(1, max_n):
        cols[f"_t{k}"] = F.lead("token", k).over(w)
    base = tokens.select(
        "conv_id", "turn_idx", "tok_idx",
        *[c.alias(name) for name, c in cols.items()])
    parts = []
    for n in range(1, max_n + 1):
        gram = F.concat_ws(" ", *[F.col(f"_t{k}") for k in range(n)])
        keep = base if n == 1 else base.where(
            F.col(f"_t{n-1}").isNotNull())
        parts.append(keep.select(
            "conv_id", "turn_idx", "tok_idx",
            F.lit(n).cast("int").alias("n"),
            F.lit("gram").alias("kind"), gram.alias("gram")))
        if skip_grams and n > 2:
            parts.append(keep.select(
                "conv_id", "turn_idx", "tok_idx",
                F.lit(n).cast("int").alias("n"),
                F.lit("skip").alias("kind"),
                F.concat_ws(" ", F.col("_t0"),
                            F.col(f"_t{n-1}")).alias("gram")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def dictionary_tag_df(transcripts: DataFrame, entity_dict: DataFrame,
                      max_words: int = 4, de_nest: bool = True) -> DataFrame:
    """Gazetteer scan (DictionaryTagger, extraction/DictionaryTagger.java:
    24-69) inverted for scale: instead of the reference's per-pattern
    rescan (O(dict × text)), the text is tokenized ONCE (Arrow stage), each
    turn emits its 1..max_words token n-grams with offsets, and the n-grams
    broadcast-hash-join against the normalized dictionary — O(text) scan +
    one broadcast join, the SURVEY.md §2.3 prescription.  ``entity_dict``
    columns: (surface, concept)."""
    from palladian_spark.textproc.tokenize import word_tokens

    ngram_schema = StructType([
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("start", IntegerType()),
        StructField("end", IntegerType()),
        StructField("value", StringType()),
    ])

    def emit_ngrams(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in iterator:
            out = {k: [] for k in ("conv_id", "turn_idx", "start", "end", "value")}
            for conv_id, turn_idx, text in zip(
                    pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
                if text is None:
                    continue
                toks = word_tokens(text)
                for i in range(len(toks)):
                    for n in range(1, max_words + 1):
                        if i + n > len(toks):
                            break
                        start = toks[i].start
                        end = toks[i + n - 1].end
                        out["conv_id"].append(conv_id)
                        out["turn_idx"].append(turn_idx)
                        out["start"].append(start)
                        out["end"].append(end)
                        out["value"].append(text[start:end])
            yield pd.DataFrame(out)

    ngrams = (ensure_map_parallelism(transcripts)
              .select("conv_id", "turn_idx", "text")
              .mapInPandas(emit_ngrams, ngram_schema))
    dict_norm = F.broadcast(
        entity_dict.select(F.lower(F.col("surface")).alias("_key"),
                           F.col("concept").alias("_concept"))
        .groupBy("_key").agg(F.min("_concept").alias("_concept")))
    hits = (ngrams
            .join(dict_norm, F.lower(ngrams.value) == F.col("_key"))
            .select("conv_id", "turn_idx", "start", "end", "value",
                    F.col("_concept").alias("tag"), F.lit(1.0).alias("conf")))
    return remove_nested_df(hits) if de_nest else hits


def split_sentences_df(transcripts: DataFrame, mask_entities: bool = True,
                       only_real_sentences: bool = False) -> DataFrame:
    """Sentence segmentation per turn (PalladianSentenceDetector port):
    URLs/dates/smileys are masked so their dots don't split sentences.
    ``only_real_sentences`` applies the Tokenizer.java:316-342 filter
    (terminal punctuation, quote-preserving trim, length > 8, > 2 words)
    — sent_idx then numbers the SURVIVING sentences."""

    def run(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from palladian_spark.textproc.tokenize import palladian_trim
        for pdf in iterator:
            out = {k: [] for k in
                   ("conv_id", "turn_idx", "sent_idx", "sent_start", "sentence")}
            for conv_id, turn_idx, text in zip(
                    pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
                if text is None:
                    continue
                masks = None
                if mask_entities:
                    masks = tag_urls(text) + tag_dates(text) + tag_smileys(text)
                i = 0
                for sent in split_sentences(text, masks):
                    value, start = sent.value, sent.start
                    if only_real_sentences:
                        # the reference keeps the TRIMMED LAST LINE
                        # (Tokenizer.java:327-336 'parts[parts.length-1]'
                        # + 'sentence.trim()'); offsets re-anchored so the
                        # value==slice invariant still holds
                        last = value.split("\n")[-1]
                        if not last.endswith((".", "?", "!", ".”", '."')):
                            continue
                        clean = palladian_trim(last, keep='“”"')
                        if len(clean) <= 8 or clean.count(" ") + 1 <= 2:
                            continue
                        base = start + (len(value) - len(last))
                        lead = len(last) - len(last.lstrip())
                        value = last.strip()
                        start = base + lead
                    out["conv_id"].append(conv_id)
                    out["turn_idx"].append(turn_idx)
                    out["sent_idx"].append(i)
                    out["sent_start"].append(start)
                    out["sentence"].append(value)
                    i += 1
            yield pd.DataFrame(out)

    return (transcripts
            .select("conv_id", "turn_idx", "text")
            .mapInPandas(run, SENTENCE_SCHEMA))


# ---------------------------------------------------------------------------
# relational operators over exploded mention tables
# ---------------------------------------------------------------------------

def remove_nested_df(mentions: DataFrame) -> DataFrame:
    """De-nest intervals per turn (Annotations.java:43-56), fully JVM-side.

    The sweep keeps a span iff it starts at/after the end of the last KEPT
    span — sequential within a turn, so it cannot be a window running-max
    over *all* previous ends (a dropped long span would wrongly shadow a
    later short one).  Instead: one shuffle to ``collect_list`` the turn's
    spans, ``array_sort`` by (start asc, end desc), then a higher-order
    ``F.aggregate`` fold carrying (last_end, kept[]) — the exact reference
    sweep with zero Python and whole-stage codegen on both sides of the
    single exchange.  Turn-local mention counts are bounded (sentence-sized
    texts), so the per-group array never approaches executor memory.
    """
    extra = [c for c in mentions.columns if c not in ("conv_id", "turn_idx")]
    span = F.struct(
        F.col("start").cast("int").alias("start"),
        (-F.col("end")).cast("int").alias("_negend"),
        *[F.col(c) for c in extra if c not in ("start",)])
    grouped = (mentions
               .groupBy("conv_id", "turn_idx")
               .agg(F.array_sort(F.collect_list(span)).alias("_spans")))
    empty = F.filter(F.col("_spans"), lambda s: F.lit(False))
    swept = F.aggregate(
        F.col("_spans"),
        F.struct(F.lit(0).cast("int").alias("last_end"), empty.alias("kept")),
        lambda acc, s: F.when(
            s["start"] >= acc["last_end"],
            F.struct(s["end"].cast("int").alias("last_end"),
                     F.concat(acc["kept"], F.array(s)).alias("kept"))
        ).otherwise(acc),
        lambda acc: acc["kept"])
    exploded = (grouped
                .select("conv_id", "turn_idx", F.explode(swept).alias("_s")))
    return exploded.select(
        "conv_id", "turn_idx",
        *[F.col(f"_s.{c}").alias(c) for c in extra])


def combine_adjacent_df(mentions: DataFrame, gap: int = 1) -> DataFrame:
    """Merge adjacent same-tag mentions separated by exactly ``gap`` chars
    (PalladianNer.java:573-601) — pure JVM gaps-and-islands: lag to flag
    island starts, running sum for island ids, then one groupBy."""
    w = Window.partitionBy("conv_id", "turn_idx").orderBy("start", F.desc("end"))
    new_island = (
        (F.lag("end").over(w).isNull())
        | (F.col("start") != F.lag("end").over(w) + gap)
        | (F.lower(F.col("tag")) != F.lower(F.lag("tag").over(w)))
    ).cast("int")
    df = (mentions
          .where(F.lower(F.col("tag")) != "o")
          .withColumn("_new", new_island)
          .withColumn("_island", F.sum("_new").over(
              w.rowsBetween(Window.unboundedPreceding, 0))))
    return (df.groupBy("conv_id", "turn_idx", "_island")
            .agg(F.min("start").alias("start"),
                 F.max("end").alias("end"),
                 F.array_join(F.transform(
                     F.array_sort(F.collect_list(F.struct("start", "value"))),
                     lambda s: s["value"]), " ").alias("value"),
                 F.first("tag").alias("tag"),
                 F.max("conf").alias("conf"))
            .drop("_island"))


def assert_text_equality(transcripts: DataFrame, mentions: DataFrame) -> int:
    """The per-turn text-equality invariant (NerHelper.tag's embedded check,
    NerHelper.java:173-182): every mention value must equal the text slice.
    Returns the number of violations (0 == healthy)."""
    joined = mentions.join(transcripts.select("conv_id", "turn_idx", "text"),
                           ["conv_id", "turn_idx"])
    violations = joined.where(
        F.expr("substring(text, start + 1, end - start)") != F.col("value"))
    return violations.count()
