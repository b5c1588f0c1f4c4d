"""Pattern-based relation extraction → (subj, pred, obj) triples.

The reference has no end-to-end relation extractor; this stage composes its
building blocks exactly as SURVEY.md §2.7 lays out:
  * sentence windows            — PalladianSentenceDetector (textproc.tokenize)
  * typed mentions              — the NER chain (ner.tag)
  * same-sentence co-occurrence — CoOccurrenceRetriever.java:27-60 shape
  * inter-mention token windows — NerHelper.java:244-298 shape
  * pattern mining              — PatternAnalyzer.java:46-64 shape
    (mine_patterns_df: frequent inter-mention windows by type pair)

A triple fires when the ordered mention pair (a before b) in one sentence
has an inter-mention window that fully matches a predicate pattern.
"""

from __future__ import annotations

import uuid
from typing import Callable, Iterator, List, NamedTuple, Optional, Sequence

import regex

from pyspark import Broadcast
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (
    DoubleType, IntegerType, StringType, StructField, StructType,
)

from palladian_spark.ner.model import NerModel
from palladian_spark.ner.tag import ClassifiedAnnotation, get_annotations
from palladian_spark.operators.mentions import turn_stage
from palladian_spark.textproc.taggers import tag_dates, tag_smileys, tag_urls
from palladian_spark.textproc.tokenize import sentences as split_sentences


class PredicatePattern(NamedTuple):
    pred: str
    window_regex: str                 # fullmatch against the inter-mention window
    subj_types: Optional[frozenset]   # None = any
    obj_types: Optional[frozenset]


def pattern(pred: str, window_regex: str, subj_types=None, obj_types=None) -> PredicatePattern:
    return PredicatePattern(
        pred, window_regex,
        frozenset(subj_types) if subj_types else None,
        frozenset(obj_types) if obj_types else None)


# seed predicate dictionary (FIXTURES.md §8 shape)
DEFAULT_PATTERNS: List[PredicatePattern] = [
    pattern("works_for", r"\s*,?\s*(works|worked|working)\s+(for|at)\s*",
            {"PER"}, {"ORG"}),
    pattern("located_in", r"\s*,?\s*(is|was)?\s*(located|based)?\s*in\s*",
            {"ORG"}, {"LOC"}),
    pattern("met", r"\s*,?\s*met(\s+with)?\s*", {"PER"}, {"PER"}),
    pattern("visited", r"\s*,?\s*visited\s*", {"PER"}, {"LOC"}),
]

TRIPLE_SCHEMA = StructType([
    StructField("conv_id", StringType()),
    StructField("turn_idx", IntegerType()),
    StructField("subj", StringType()),
    StructField("pred", StringType()),
    StructField("obj", StringType()),
    StructField("subj_start", IntegerType()),
    StructField("subj_end", IntegerType()),
    StructField("obj_start", IntegerType()),
    StructField("obj_end", IntegerType()),
    StructField("conf", DoubleType()),
])


def compile_patterns(patterns: Sequence[PredicatePattern]):
    return [(p, regex.compile(p.window_regex)) for p in patterns]


_MATCH_MISS = object()


def _sentence_pairs(text: str, mentions: Sequence[ClassifiedAnnotation],
                    masks) -> Iterator[tuple]:
    """Same-sentence ordered mention pairs (a before b, not overlapping) —
    the CoOccurrenceRetriever.java:27-60 candidate walk both the triple
    kernel and the pattern miner run."""
    if not mentions:
        return
    for sent in split_sentences(text, masks):
        s_lo, s_hi = sent.start, sent.start + len(sent.value)
        in_sent = [m for m in mentions if m.start >= s_lo and m.end <= s_hi]
        for i, subj in enumerate(in_sent):
            for obj in in_sent[i + 1:]:
                if obj.start >= subj.end:  # overlapping/nested — no window
                    yield subj, obj


def _scan_turn(text: str, model: NerModel, classify_cache: dict):
    """One url/date/smiley scan per turn, reused as NER add-on taggers AND
    as sentence masks → (mentions, masks)."""
    urls, dates, smileys = tag_urls(text), tag_dates(text), tag_smileys(text)
    mentions = get_annotations(text, model, classify_cache=classify_cache,
                               url_annotations=urls, date_annotations=dates)
    return mentions, urls + dates + smileys


def triples_from_mentions(text: str, mentions: Sequence[ClassifiedAnnotation],
                          patterns: Sequence[PredicatePattern],
                          masks=None, compiled=None,
                          match_cache: Optional[dict] = None) -> List[tuple]:
    """Per-turn kernel: same-sentence ordered mention pairs × patterns.
    ``masks``/``compiled`` let the fused caller share the regex scans and
    compiled patterns across the whole batch; ``match_cache`` memoizes the
    first-matching-pattern decision per (window, subj_tag, obj_tag) — the
    inter-mention window vocabulary of a corpus is tiny, so nearly every
    pair resolves by dict lookup instead of a regex fullmatch sweep."""
    if not mentions:
        return []
    if masks is None:
        masks = tag_urls(text) + tag_dates(text) + tag_smileys(text)
    out: List[tuple] = []
    if compiled is None:
        compiled = compile_patterns(patterns)
    for subj, obj in _sentence_pairs(text, mentions, masks):
        window = text[subj.end:obj.start]
        key = (window, subj.tag, obj.tag)
        hit = (match_cache.get(key, _MATCH_MISS)
               if match_cache is not None else _MATCH_MISS)
        if hit is _MATCH_MISS:
            hit = None
            for idx, (p, rx) in enumerate(compiled):
                if p.subj_types and subj.tag not in p.subj_types:
                    continue
                if p.obj_types and obj.tag not in p.obj_types:
                    continue
                if rx.fullmatch(window):
                    hit = idx
                    break
            if match_cache is not None and len(match_cache) < 1_000_000:
                match_cache[key] = hit
        if hit is not None:
            p = compiled[hit][0]
            conf = min(
                subj.scores.get(subj.tag, 1.0) if subj.scores else 1.0,
                obj.scores.get(obj.tag, 1.0) if obj.scores else 1.0)
            out.append((subj.value, p.pred, obj.value,
                        subj.start, subj.end, obj.start, obj.end,
                        float(conf)))
    return out


def _extract(transcripts: DataFrame, model_bc: Broadcast,
             patterns: Sequence[PredicatePattern],
             make_linker=None, drop_unlinked: bool = False) -> DataFrame:
    """The one triple-extraction stage: text → NER chain → sentence pairing
    → triples (→ linked surfaces, when ``make_linker`` builds a worker-side
    ``link(surface) -> canonical-or-None``) as one ``turn_stage`` kernel
    (operators/mentions.py) over the broadcast model ``model_bc``; each
    triple is linked as it is produced."""
    patterns = list(patterns)

    def make_kernel():
        m = model_bc.value
        link = make_linker() if make_linker is not None else None
        cache: dict = {}
        window_cache: dict = {}
        compiled = compile_patterns(patterns)

        def kernel(text: str):
            mentions, masks = _scan_turn(text, m, cache)
            rows = triples_from_mentions(
                text, mentions, patterns, masks=masks, compiled=compiled,
                match_cache=window_cache)
            if link is None:
                return rows
            return _linked(rows, link, drop_unlinked)
        return kernel

    return turn_stage(transcripts, TRIPLE_SCHEMA, make_kernel)


def _linked(rows: List[tuple], link: Callable, drop_unlinked: bool
            ) -> Iterator[tuple]:
    """Triple rows with subj/obj replaced by their canonical surfaces
    (unlinked sides kept, or the row dropped under ``drop_unlinked``)."""
    for subj, pred, obj, *spans in rows:
        subj_c, obj_c = link(subj), link(obj)
        if drop_unlinked and (subj_c is None or obj_c is None):
            continue
        yield (subj if subj_c is None else subj_c, pred,
               obj if obj_c is None else obj_c, *spans)


def _dedup_triples(triples: DataFrame) -> DataFrame:
    """One row per (conv, turn, s, p, o): earliest spans, highest conf."""
    return (triples.groupBy("conv_id", "turn_idx", "subj", "pred", "obj")
            .agg(F.min("subj_start").alias("subj_start"),
                 F.min("subj_end").alias("subj_end"),
                 F.min("obj_start").alias("obj_start"),
                 F.min("obj_end").alias("obj_end"),
                 F.max("conf").alias("conf")))


def _normalized_dictionary(entity_dict: DataFrame) -> DataFrame:
    """(_key = normalized surface, _canon = min surface) — the ONE
    dictionary-side normalization both linking paths use."""
    from palladian_spark.linking import normalize_surface
    return (entity_dict
            .groupBy(normalize_surface(F.col("surface")).alias("_key"))
            .agg(F.min("surface").alias("_canon")))


def extract_triples(transcripts: DataFrame, model: NerModel,
                    patterns: Sequence[PredicatePattern] = tuple(DEFAULT_PATTERNS)
                    ) -> DataFrame:
    """Raw (unlinked, undeduplicated) triples: the extraction stage with no
    linker — the input of the staged canonicalize_triples."""
    model_bc = transcripts.sparkSession.sparkContext.broadcast(model)
    return _extract(transcripts, model_bc, patterns)


def prepare_canonical_extraction(
        model: NerModel, entity_dict: DataFrame,
        patterns: Sequence[PredicatePattern] = tuple(DEFAULT_PATTERNS),
        metric: str = "jaro_winkler", threshold: float = 0.9,
        min_link_sim: Optional[float] = None,
        drop_unlinked: bool = False) -> Callable[[DataFrame], DataFrame]:
    """The prepare half of extract_canonical_triples: collect the dictionary
    and broadcast it and the model ONCE, and return the apply step
    ``transcripts → deduped canonical triples``.  A caller that extracts
    many slices against one dictionary (run_pipeline's buckets) prepares
    once and applies per slice, so each slice costs only its own stage
    and the workers keep the deserialized broadcasts."""
    from palladian_spark.linking import make_surface_linker
    sc = entity_dict.sparkSession.sparkContext
    # dictionary-side structures, built ONCE on the driver with the SAME
    # Spark-side normalization as the staged path
    norm_map = {r["_key"]: r["_canon"]
                for r in _normalized_dictionary(entity_dict).collect()}
    entries = ([(r["entity_id"], r["surface"], r["concept"]) for r in
                entity_dict.select("entity_id", "surface", "concept")
                .collect()]
               if fuzzy_enabled(metric) else [])
    link_bc = sc.broadcast((norm_map, entries))
    model_bc = sc.broadcast(model)
    patterns = list(patterns)
    # one fuzzy index per Python worker for every slice this prepare applies
    index_key = uuid.uuid4().hex

    def make_linker():
        norm_map_w, entries_w = link_bc.value
        return make_surface_linker(norm_map_w, entries_w, metric, threshold,
                                   min_link_sim, index_key)

    def apply(transcripts: DataFrame) -> DataFrame:
        return _dedup_triples(_extract(transcripts, model_bc, patterns,
                                       make_linker, drop_unlinked))

    return apply


def extract_canonical_triples(transcripts: DataFrame, model: NerModel,
                              entity_dict: DataFrame,
                              patterns: Sequence[PredicatePattern] = tuple(DEFAULT_PATTERNS),
                              metric: str = "jaro_winkler",
                              threshold: float = 0.9,
                              min_link_sim: Optional[float] = None,
                              drop_unlinked: bool = False) -> DataFrame:
    """Fused extract_triples → canonicalize_triples: the NER chain, the
    relation patterns AND entity linking all run in ONE Arrow-batched
    stage; only the final per-(conv, turn, s, p, o) dedup aggregation
    shuffles.  Output-identical to the staged pair (equivalence-tested,
    tests/test_fused_canonicalize.py).  Equals
    ``prepare_canonical_extraction(model, entity_dict, ...)(transcripts)``.

    Scale trade-off vs the staged mapping-first shape
    (canonicalize_triples): staged pays a full persist of the raw triple
    stream plus mapping-resolution jobs, but computes each DISTINCT
    surface's fuzzy link exactly once globally — right when the alias
    dictionary is too big to broadcast or fuzzy similarity dominates.
    Fused broadcasts the dictionary once and links per worker through a
    memo (duplicate fuzzy work bounded by each worker's local surface
    vocabulary) with ZERO extra passes over the stream — right when the
    dictionary is model-sized, which is the pipeline default
    (measured: kg_triples 13.6 → ~9.5 s at sf0.1 local[32])."""
    return prepare_canonical_extraction(
        model, entity_dict, patterns, metric, threshold, min_link_sim,
        drop_unlinked)(transcripts)


def canonicalize_triples(triples: DataFrame, entity_dict: DataFrame,
                         metric: str = "jaro_winkler",
                         threshold: float = 0.9,
                         persist: bool = True,
                         min_link_sim: Optional[float] = None,
                         drop_unlinked: bool = False) -> DataFrame:
    """Replace subj/obj surface forms with canonical entity surfaces via the
    linking stage (broadcast joins), then dedup per (conv, turn, s, p, o).

    ``min_link_sim`` keeps only mapping entries whose link similarity
    reaches the bar (exact hits carry 1.0); ``drop_unlinked`` then drops
    triples where EITHER side resolved to no canonical entity — the knob
    that stops unlinked garbage from flowing into the graph untouched.
    Defaults preserve round-1 behavior (everything passes through).

    Scale design, mapping-first (measured: the naive distinct-then-link
    shape spent 17 of 27 s re-shuffling the triple stream at sf0.1, and a
    per-row normalize-and-join variant left ~16 s of poorly-scaling work
    at 4M turns):

      1. ONE pass over the raw stream computes the DISTINCT surface set of
         subj ∪ obj — map-side partial aggregation shrinks it to the
         entity vocabulary before the (tiny) shuffle.
      2. The surface→canonical mapping is resolved on that small set:
         exact via broadcast hash join on the normalized key, fuzzy via
         one Arrow pass over the remaining misses.  The mapping is
         persisted + materialized so the two downstream broadcast builds
         read a cached table instead of re-deriving it from the stream.
      3. ONE final pass applies the broadcast mapping to both columns and
         runs the dedup aggregation — the only full-width shuffle.

    The raw stream is persisted because passes 1 and 3 both read it (on a
    cluster the checkpointed ``triples`` lineage table serves this durably
    — pipeline.run_pipeline).
    """
    from palladian_spark.linking import fuzzy_link_df, normalize_surface

    if persist:
        from pyspark import StorageLevel
        triples = triples.persist(StorageLevel.MEMORY_AND_DISK)

    # 1. distinct surfaces (map-side combinable)
    surfaces = (triples
                .select(F.explode(F.array("subj", "obj")).alias("value"))
                .distinct())

    # 2. resolve the mapping on the small distinct set
    dict_norm = F.broadcast(_normalized_dictionary(entity_dict))
    resolved = (surfaces
                .join(dict_norm, normalize_surface(F.col("value")) == F.col("_key"),
                      "left"))
    # NOTE: the exact-hit branch and the fuzzy-miss branch both read
    # `resolved`, but persisting it is a measured LOSS (~+2.5 s at
    # sf0.1): Spark's exchange reuse already shares the distinct-surfaces
    # shuffle between the branches, and an explicit materialization only
    # adds a job barrier.
    mapping = resolved.where(F.col("_canon").isNotNull()) \
        .select("value", F.col("_canon").alias("canon"),
                F.lit(1.0).alias("link_sim"))
    if fuzzy_enabled(metric):
        misses = resolved.where(F.col("_canon").isNull()).select("value")
        fuzzy_map = (fuzzy_link_df(misses, entity_dict, metric, threshold)
                     .select("value", F.col("canonical").alias("canon"),
                             "link_sim"))
        mapping = mapping.unionByName(fuzzy_map)
    if min_link_sim is not None:
        mapping = mapping.where(F.col("link_sim") >= min_link_sim)
    mapping = mapping.select("value", "canon")
    mapping = mapping.persist()
    mapping.count()  # materialize once; both broadcast builds read the cache
    mapping = F.broadcast(mapping)

    # 3. single final pass: apply mapping to both columns + dedup agg
    out = (triples
           .join(mapping.withColumnRenamed("value", "_sv")
                        .withColumnRenamed("canon", "_sc"),
                 triples.subj == F.col("_sv"), "left")
           .withColumn("_subj_linked", F.col("_sc").isNotNull())
           .withColumn("subj", F.coalesce("_sc", "subj"))
           .drop("_sv", "_sc"))
    out = (out
           .join(mapping.withColumnRenamed("value", "_ov")
                        .withColumnRenamed("canon", "_oc"),
                 out.obj == F.col("_ov"), "left")
           .withColumn("_obj_linked", F.col("_oc").isNotNull())
           .withColumn("obj", F.coalesce("_oc", "obj"))
           .drop("_ov", "_oc"))
    if drop_unlinked:
        out = out.where(F.col("_subj_linked") & F.col("_obj_linked"))
    return _dedup_triples(out.drop("_subj_linked", "_obj_linked"))


def fuzzy_enabled(metric: Optional[str]) -> bool:
    return metric is not None and metric != "none"


def cooccurrence_document_pairs(mentions: DataFrame,
                                doc_cols: tuple = ("conv_id",),
                                max_doc_vocab: int | None = None) -> DataFrame:
    """DOCUMENT-scope co-occurrence (CoOccurrenceRetriever.java:27-60's
    DOCUMENT context, document = conversation): distinct per-document
    mention values self-joined per document, counted per unordered pair
    (left_value < right_value).  The distinct shrinks the join input to
    the per-document entity vocabulary before the shuffle.

    SKEW NOTE: pair output is O(vocab²) per document — one pathological
    conversation mentioning 10⁵ distinct entities produces 10¹⁰ pairs in
    one join partition.  ``max_doc_vocab`` caps the per-document
    vocabulary (keeping the lexicographically-first values, so the cap is
    deterministic and engine-replayable); None (default) keeps the exact
    reference semantics.  AQE's skew-join split does NOT help here — the
    blowup is in the join OUTPUT of a single key, not the probe side — so
    cap at ingest when documents are untrusted."""
    e = mentions.select(*doc_cols, "value", "tag").distinct()
    if max_doc_vocab is not None:
        w = Window.partitionBy(*[F.col(c) for c in doc_cols]) \
            .orderBy("value", "tag")
        e = (e.withColumn("_vrn", F.row_number().over(w))
             .where(F.col("_vrn") <= max_doc_vocab).drop("_vrn"))
    a, b = e.alias("a"), e.alias("b")
    cond = F.col("a.value") < F.col("b.value")
    for c in doc_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    return (a.join(b, cond)
            .groupBy(F.col("a.value").alias("left_value"),
                     F.col("a.tag").alias("left_tag"),
                     F.col("b.value").alias("right_value"),
                     F.col("b.tag").alias("right_tag"))
            .agg(F.count("*").alias("n")))


def cooccurrence_pairs(mentions: DataFrame, sentences: DataFrame) -> DataFrame:
    """Same-sentence mention pair counts (CoOccurrenceRetriever.java:27-60):
    the (subj, obj) candidate generator as a relational self-join keyed by
    (conv_id, turn_idx, sent_idx)."""
    m = (mentions.alias("m")
         .join(sentences.alias("s"),
               (F.col("m.conv_id") == F.col("s.conv_id"))
               & (F.col("m.turn_idx") == F.col("s.turn_idx"))
               & (F.col("m.start") >= F.col("s.sent_start"))
               & (F.col("m.end") <= F.col("s.sent_start")
                  + F.length("s.sentence")))
         .select("m.conv_id", "m.turn_idx", "s.sent_idx",
                 "m.start", "m.end", "m.value", "m.tag"))
    a, b = m.alias("a"), m.alias("b")
    pairs = (a.join(b, (F.col("a.conv_id") == F.col("b.conv_id"))
                    & (F.col("a.turn_idx") == F.col("b.turn_idx"))
                    & (F.col("a.sent_idx") == F.col("b.sent_idx"))
                    & (F.col("a.end") <= F.col("b.start"))))
    return (pairs.groupBy(F.col("a.value").alias("left_value"),
                          F.col("a.tag").alias("left_tag"),
                          F.col("b.value").alias("right_value"),
                          F.col("b.tag").alias("right_tag"))
            .count())


def mine_patterns_df(transcripts: DataFrame, model: NerModel) -> DataFrame:
    """PatternAnalyzer-shaped mining (PatternAnalyzer.java:46-64): frequent
    inter-mention windows (1..60 chars) per (subj_type, obj_type) seen at
    least twice, descending by count — seeds for the predicate
    dictionary."""
    model_bc = transcripts.sparkSession.sparkContext.broadcast(model)
    schema = StructType([
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("subj_type", StringType()),
        StructField("obj_type", StringType()),
        StructField("window", StringType()),
    ])

    def make_kernel():
        m, cache = model_bc.value, {}

        def kernel(text: str):
            mentions, masks = _scan_turn(text, m, cache)
            for a, b in _sentence_pairs(text, mentions, masks):
                window = text[a.end:b.start].strip().lower()
                if 0 < len(window) <= 60:
                    yield (a.tag, b.tag, window)
        return kernel

    raw = turn_stage(transcripts, schema, make_kernel)
    return (raw.groupBy("subj_type", "obj_type", "window").count()
            .where(F.col("count") >= 2)
            .orderBy(F.desc("count")))


def pmi_associations(pairs: DataFrame,
                     left_col: str = "left_value",
                     right_col: str = "right_value",
                     count_col: str = "n",
                     min_count: int = 1) -> DataFrame:
    """Pointwise mutual information over co-occurrence pair counts — the
    association strength that separates entities co-mentioned by CHANCE
    (two hubs sharing sentences everywhere) from genuinely associated
    pairs; the standard relation-candidate ranker on top of
    cooccurrence_pairs / cooccurrence_document_pairs.

    With N = Σ n_ab, joint p(a,b) = n_ab/N and marginal p(x) = m_x/(2N)
    where m_x sums every pair occurrence x participates in (each pair
    feeds both endpoints, so Σ m_x = 2N):

        pmi = ln(4·n_ab·N / (m_a·m_b)),   rounded to 6 decimals.

    Exact-integer counts feed one per-row IEEE expression, so the result
    is order-independent and SQL-replayable.  Shape: one 1-row total agg
    (broadcast), an endpoint-union marginal agg (entity-sized), two hash
    joins on the pair table.  No collects.
    """
    p = (pairs.select(F.col(left_col).alias("a"),
                      F.col(right_col).alias("b"),
                      F.col(count_col).cast("long").alias("n_ab"))
         .groupBy("a", "b").agg(F.sum("n_ab").alias("n_ab"))
         .where(F.col("n_ab") >= int(min_count)))
    total = p.agg(F.sum("n_ab").cast("long").alias("n_total"))
    marg = (p.select(F.col("a").alias("e"), "n_ab")
            .unionAll(p.select(F.col("b").alias("e"), "n_ab"))
            .groupBy("e").agg(F.sum("n_ab").cast("long").alias("m")))
    out = (p.crossJoin(F.broadcast(total))
           .join(marg.select(F.col("e").alias("a"),
                             F.col("m").alias("m_a")), "a")
           .join(marg.select(F.col("e").alias("b"),
                             F.col("m").alias("m_b")), "b"))
    pmi = F.log(F.lit(4.0) * F.col("n_ab") * F.col("n_total")
                / (F.col("m_a") * F.col("m_b")))
    return out.select("a", "b", "n_ab", "m_a", "m_b",
                      (F.round(pmi, 6) + F.lit(0.0)).alias("pmi"))
