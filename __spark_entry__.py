"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG-construction pipeline on transcripts
derived deterministically from the sf0.001 TPC-H parquet; ``queries()`` /
``oracle_sql()`` expose one entry per implemented operator (SURVEY.md §2)
with DuckDB-checkable oracles.

Oracle strategy: transcripts are built from the TPC-H tables with a fixed
text template ('Customer C<ck> works for Supplier S<sk> in Nation N<nk>.'),
so the DuckDB oracle can state the EXPECTED mention spans / triples
analytically from the base tables while the Spark side runs the real regex
tagger, rule chain, classifier, linker and relation patterns.  Operators
whose semantics the oracle can't express in RE2-safe SQL (the StringTagger
regex itself, Jaro-Winkler with the reference's quirks) are golden-tested
in pytest instead (tests/).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

SF_DEFAULT = "/root/testdata/sf0.001"


def _tpch_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from palladian_spark.data.transcripts import tpch_transcripts_df
    return tpch_transcripts_df(spark, sf_dir)


def _tpch_entity_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-entity dictionary derived from the base tables:
    customers → PER-like, suppliers → ORG-like, nations → LOC-like."""
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    c = customer.select(
        F.concat(F.lit("cust:"), F.col("c_custkey").cast("string")).alias("entity_id"),
        F.concat(F.lit("Customer C"), F.col("c_custkey").cast("string")).alias("surface"),
        F.lit("PER").alias("concept"))
    s = supplier.select(
        F.concat(F.lit("supp:"), F.col("s_suppkey").cast("string")).alias("entity_id"),
        F.concat(F.lit("Supplier S"), F.col("s_suppkey").cast("string")).alias("surface"),
        F.lit("ORG").alias("concept"))
    n = nation.select(
        F.concat(F.lit("nat:"), F.col("n_nationkey").cast("string")).alias("entity_id"),
        F.concat(F.lit("Nation N"), F.col("n_nationkey").cast("string")).alias("surface"),
        F.lit("LOC").alias("concept"))
    return c.unionByName(s).unionByName(n)


def _tpch_model(spark: SparkSession, sf_dir: str):
    from palladian_spark.pipeline import model_from_entity_dictionary
    entries = [(r["surface"], r["concept"])
               for r in _tpch_entity_dict(spark, sf_dir).collect()]
    return model_from_entity_dictionary(entries)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG pipeline (NER chain → linking → relation patterns →
    canonical triples) over sf0.001-derived transcripts."""
    from palladian_spark.relations import extract_canonical_triples
    transcripts = _tpch_transcripts(spark, SF_DEFAULT)
    model = _tpch_model(spark, SF_DEFAULT)
    entity_dict = _tpch_entity_dict(spark, SF_DEFAULT)
    return (extract_canonical_triples(transcripts, model, entity_dict)
            .select("conv_id", "turn_idx", "subj", "pred", "obj"))


# ---------------------------------------------------------------------------
# per-operator queries
# ---------------------------------------------------------------------------

def _q_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StringTagger candidate scan (SURVEY.md §2.3) on derived transcripts."""
    from palladian_spark.operators.mentions import extract_candidates
    df = extract_candidates(_tpch_transcripts(spark, sf_dir))
    return df.select("conv_id", "turn_idx",
                     F.col("start").alias("m_start"),
                     F.col("end").alias("m_end"),
                     "value", "tag")


def _q_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline → (subj, pred, obj) (SURVEY.md §2.5 + §2.7).
    Fused single-pass path: NER + patterns + broadcast-dict linking in
    one Arrow stage (relations.extract_canonical_triples; equivalence
    vs the staged pair is pinned by tests/test_fused_canonicalize.py)."""
    from palladian_spark.relations import extract_canonical_triples
    transcripts = _tpch_transcripts(spark, sf_dir)
    model = _tpch_model(spark, sf_dir)
    return (extract_canonical_triples(transcripts, model,
                                      _tpch_entity_dict(spark, sf_dir))
            .select("conv_id", "turn_idx", "subj", "pred", "obj"))


def _q_triple_pr_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-rule gate as a driver-checked row: precision/recall of
    the PIPELINE's emitted (conv_id, turn_idx, subj, pred, obj) triples
    against the analytically-derived expected set (built straight from
    the base tables — no pipeline code in the gold path), with the
    ≥ 0.95 pass flags materialized.  The oracle derives gold the same
    way twice, so any pipeline drift shows up as a hash mismatch on the
    count/precision/recall columns, not a silent pass."""
    keys = ["conv_id", "turn_idx", "subj", "pred", "obj"]
    pred = _q_triples(spark, sf_dir).select(keys).distinct()

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    base = (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(supp, li.l_suppkey == supp.s_suppkey)
            .select(
                F.concat(F.lit("conv-"), F.col("l_orderkey").cast("string"))
                .alias("conv_id"),
                F.col("l_linenumber").cast("int").alias("turn_idx"),
                F.concat(F.lit("Customer C"),
                         F.col("o_custkey").cast("string")).alias("cust"),
                F.concat(F.lit("Supplier S"),
                         F.col("l_suppkey").cast("string")).alias("supp"),
                F.concat(F.lit("Nation N"),
                         F.col("s_nationkey").cast("string")).alias("nat")))
    gold = (base.select("conv_id", "turn_idx",
                        F.col("cust").alias("subj"),
                        F.lit("works_for").alias("pred"),
                        F.col("supp").alias("obj"))
            .unionByName(base.select("conv_id", "turn_idx",
                                     F.col("supp").alias("subj"),
                                     F.lit("located_in").alias("pred"),
                                     F.col("nat").alias("obj")))
            .distinct())

    j = (pred.withColumn("_p", F.lit(1))
         .join(gold.withColumn("_g", F.lit(1)), keys, "full_outer"))
    return (j.agg(F.sum("_p").alias("n_pred"),
                  F.sum("_g").alias("n_gold"),
                  F.sum(F.when(F.col("_p").isNotNull()
                               & F.col("_g").isNotNull(), 1)).alias("n_match"))
            .select(F.col("n_pred").cast("bigint").alias("n_pred"),
                    F.col("n_gold").cast("bigint").alias("n_gold"),
                    F.col("n_match").cast("bigint").alias("n_match"),
                    F.round(F.col("n_match") / F.col("n_pred"), 6)
                    .alias("precision"),
                    F.round(F.col("n_match") / F.col("n_gold"), 6)
                    .alias("recall"))
            .select("*",
                    ((F.col("precision") >= 0.95) & (F.col("recall") >= 0.95))
                    .cast("int").alias("gate_pass")))


def _q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 keywords per document by smoothed tf-idf — ranking on the
    ROUNDED score with term-asc tie-break keeps the row set identical
    across engines.  All per-row double arithmetic; no cross-row float
    accumulation anywhere."""
    from palladian_spark.operators.tfidf import top_keywords
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return top_keywords(docs, k=3) \
        .select("doc_id", "term", "tfidf", "kw_rank")


def _q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 of every document against a fixed 3-term query.  The
    per-document sum folds the (≤3) addends in sorted-term order, which
    the oracle mirrors as an explicit coalesce chain — adding exact 0.0
    for absent terms is an IEEE identity, so both engines compute the
    same doubles."""
    from palladian_spark.operators.tfidf import bm25_scores
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bm25_scores(docs, ["query", "spark", "table"]) \
        .select("doc_id", "bm25")


def _q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (the embedding storage
    path at 100 TB).  Rounding is floor(x/scale + 0.5) — half-up toward
    +∞ — exactly so numpy and the SQL oracle floor the same doubles.
    The contract output is the exploded long form (vec_id, dim, q,
    scale) — scalar columns only, so the harness can canonicalize it;
    the operator itself keeps the compact array shape."""
    from palladian_spark.operators.embeddings import quantize_embeddings
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = quantize_embeddings(emb)
    return (q.select("vec_id", "scale",
                     F.posexplode("qvec").alias("dim", "q"))
             .select("vec_id", F.col("dim").cast("int").alias("dim"),
                     F.col("q").cast("int").alias("q"), "scale"))


def _q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs 0-4 stand in as the eval set;
    every other document reports how many distinct eval 5-grams it
    contains (0 via left join — the caller picks the drop threshold)."""
    from palladian_spark.operators.decontamination import (
        ngram_overlap_flags)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    eval_docs = docs.where(F.col("doc_id") < 5)
    train = docs.where(F.col("doc_id") >= 5)
    return ngram_overlap_flags(train, eval_docs, n=5) \
        .select("doc_id", "n_hits")


def _q_decontamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination: for each training doc (id ≥ 5), the
    token length of its longest contiguous stretch whose every 5-gram
    appears in the eval set (docs 0-4) — the verbatim-quote signal real
    pipelines gate on, vs the scattered-collocation count above."""
    from palladian_spark.operators.decontamination import span_overlap
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    eval_docs = docs.where(F.col("doc_id") < 5)
    train = docs.where(F.col("doc_id") >= 5)
    return span_overlap(train, eval_docs, n=5) \
        .select("doc_id", "max_span_tokens")


def _q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM perplexity per document (CCNet-style quality signal):
    corpus-trained add-1 bigram model, per-doc decimal-exact log-prob
    sums so the oracle replays train + score in one SQL statement."""
    from palladian_spark.operators.lm_perplexity import self_perplexity
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return self_perplexity(docs).select("doc_id", "n_tokens", "ppl")


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-gated stratified sampling (per-language rates)
    — a pure function of the data, identical on any partitioning or
    cluster size, with the md5 gate replayed verbatim by the oracle."""
    from palladian_spark.operators.sampling import stratified_sample
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stratified_sample(
        docs, {"en": 0.5, "de": 0.25}, default_rate=0.1) \
        .select("doc_id", "lang")


def _q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-means (k=8, 2 Lloyd iterations, sample init):
    assignment ties break to the lowest centroid index and centroid
    updates use decimal-exact component sums, so the oracle replays both
    iterations as unrolled SQL — the second iterative-ML-under-exact-
    oracle demonstration next to PageRank."""
    from palladian_spark.operators.clustering import kmeans_assign
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return kmeans_assign(emb, k=8, n_iter=2).select("vec_id", "cluster")


def _q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline: quality gate → exact dedup
    (min-id per fingerprint) → near-dup cluster representatives
    (MinHash → LSH pairs → connected components on the survivors).
    One oracle verifies the whole composition end to end."""
    from palladian_spark.operators.curation import curate_corpus
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return curate_corpus(docs).select("doc_id", "quality")


def _q_curate_corpus_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-4 composed curation pipeline: PII scrub → quality gate →
    repetition gates → exact dedup → near-dup representatives, one
    end-to-end oracle."""
    from palladian_spark.operators.curation import curate_corpus_full
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return curate_corpus_full(docs).select(
        "doc_id", "quality", "dup_token_frac", "top_token_frac")


def _q_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language curation funnel for curate_corpus_full: every doc
    attributed to the FIRST stage that dropped it; counts sum to n_docs
    per language; kept-set mean quality decimal-exact."""
    from palladian_spark.operators.curation import curation_report
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return curation_report(docs).select(
        "lang", "n_docs", "n_quality_fail", "n_repetition_fail",
        "n_exact_dup", "n_near_dup", "n_kept", "kept_mean_quality")


def _q_kg_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph materialization: per-node degree profile over the distinct
    (subj, pred, obj) edge set of the full pipeline's triples — the
    first table a KG consumer derives (graph.py round 3)."""
    from palladian_spark.graph import kg_degrees
    return kg_degrees(_q_triples(spark, sf_dir)) \
        .select("node", "out_degree", "in_degree")


def _q_kg_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evidence-weighted PageRank (3 iterations) over kg_edges: an edge
    asserted by many turns pulls proportionally more rank.  Same
    decimal-exact order-independent iteration regime as kg_pagerank, so
    the oracle unrolls all three weighted iterations in SQL."""
    from pyspark.storagelevel import StorageLevel
    from palladian_spark.graph import kg_edges, pagerank
    # persist: the weighted-edge table feeds nodes/out-weights and every
    # iteration's contribution join; unlike the unweighted query the
    # re-grouped aggregate breaks Spark's exchange reuse, so without the
    # cache the NER kernel re-runs per branch
    e = kg_edges(_q_triples(spark, sf_dir)) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    return pagerank(e, n_iter=3, weight_col="weight") \
        .select("node", "rank")


def _q_kg_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction scores over the works_for bipartite subgraph:
    supplier pairs ranked by shared customers (common / Jaccard /
    Adamic-Adar), with hub customers (degree > 50) excluded as wedge
    centers — the skew cap is part of the contract and demonstrably
    bites at sf0.01."""
    from palladian_spark.graph import link_prediction_scores
    t = _q_triples(spark, sf_dir)
    wf = t.where(F.col("pred") == "works_for") \
        .select(F.col("subj").alias("u"), F.col("obj").alias("v"))
    return link_prediction_scores(wf, max_center_degree=50) \
        .select("a", "b", "common", "jaccard", "adamic_adar")


def _q_kg_edge_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge lineage table: per distinct (src, pred, dst), evidence count
    + first/last asserting (conv, turn) — the provenance a KG consumer
    joins to trace edges back to source turns (one order-free hash agg,
    graph.kg_edge_provenance)."""
    from palladian_spark.graph import kg_edge_provenance
    return kg_edge_provenance(_q_triples(spark, sf_dir)).select(
        "src", "pred", "dst", "n_obs", "first_conv_id", "first_turn_idx",
        "last_conv_id", "last_turn_idx")


def _comention_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity CO-MENTION edges (u, v): the two entities of each
    assertion, plus the 2-hop closure through the SHARED entity within
    the turn (cust—supp + supp—nat ⇒ cust—nat).  A naive per-(conv,
    turn) all-pairs self-join would also pair entities across the
    duplicate (conv_id, turn_idx) keys the derived transcripts contain
    by construction (supp–supp edges from unrelated assertions) — the
    keyed equi-join below is both the correct semantics and the cheaper
    plan."""
    from pyspark.storagelevel import StorageLevel
    # persist: the triple table feeds three branches (direct pairs +
    # the two closure sides) — without it the NER kernel re-runs per
    # branch
    t = _q_triples(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    direct = t.select(F.col("subj").alias("u"), F.col("obj").alias("v"))
    wf = (t.where(F.col("pred") == "works_for")
          .select("conv_id", "turn_idx", F.col("subj").alias("cust"),
                  F.col("obj").alias("mid")))
    li = (t.where(F.col("pred") == "located_in")
          .select("conv_id", "turn_idx", F.col("subj").alias("mid"),
                  F.col("obj").alias("nat")))
    closure = (wf.join(li, ["conv_id", "turn_idx", "mid"])
               .select(F.col("cust").alias("u"), F.col("nat").alias("v")))
    return direct.union(closure)


def _q_kg_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over the
    entity CO-MENTION graph (entities asserted together in the same
    turn's triples, pairwise).  The works_for/located_in KG itself is
    3-layer (cust→supp→nat) and triangle-free; co-mention closes the
    cust–nat side, so this is the graph a KG consumer actually runs
    community/cohesion analytics on.  Degree-ordered wedge join —
    O(√m) oriented out-degree, see graph.kg_triangles."""
    from palladian_spark.graph import kg_triangles
    return kg_triangles(_comention_edges(spark, sf_dir)) \
        .select("node", "degree", "triangles", "clustering")


def _q_kg_triangles_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental triangle maintenance: a deterministic fifth of the
    co-mention edges (xxhash64-selected) arrives as the "new batch";
    the old four-fifths' kg_triangles profile is advanced with
    graph.apply_triangle_delta — only the batch's wedges are
    enumerated, the old graph is probed by hash joins on the touched
    nodes.  The oracle recomputes the full-graph profile directly,
    pinning the O(|Δ|·deg) path to the recompute (the snapshot-cadence
    twin of kg_degrees_incremental / dedup_components_incremental)."""
    from palladian_spark.graph import (_persist, _release, _simple_edges,
                                       apply_triangle_delta, kg_triangles)
    held: list = []
    canon = _persist(_simple_edges(_comention_edges(spark, sf_dir), "u", "v"),
                     held)
    # materialize the cache NOW: the delta path scans this edge set from
    # several branches of one action, and an unpopulated persist would
    # re-run the NER extraction once per branch; released once the
    # result is pinned
    canon.count()
    is_new = F.pmod(F.xxhash64("u", "v"), F.lit(5)) == 0
    return _release(apply_triangle_delta(
        kg_triangles(canon.where(~is_new), cache=False),
        canon.where(~is_new), canon.where(is_new), old_is_canonical=True)
        .select("node", "degree", "triangles", "clustering"), held)


def _q_kg_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 iterations, d=0.85) over the entity graph.  Each
    iteration's contribution sum is decimal-exact (order-independent),
    so the oracle can replay all three iterations as unrolled SQL and
    hash-match — an ITERATIVE distributed algorithm under the same exact
    oracle regime as everything else."""
    from palladian_spark.graph import pagerank
    t = _q_triples(spark, sf_dir)
    edges = t.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    return pagerank(edges, n_iter=3).select("node", "rank")


def _q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster resolution: MinHash/LSH pair output → connected
    components (min-label propagation to fixpoint) — pairs alone don't
    answer 'which documents are the same'; clusters do.  The oracle
    computes the same components via a recursive transitive closure."""
    from palladian_spark.graph import connected_components
    from palladian_spark.operators.dedup import minhash_dedup_pairs
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_dedup_pairs(docs, threshold=0.2)
    return connected_components(pairs).select("node", "component")


def _q_dedup_components_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup clustering (graph.apply_component_delta):
    components built over the even-doc-id pair subset, then the
    remaining pairs folded in via the label-level quotient merge — the
    oracle is the FULL recompute's recursive closure, pinning the
    incremental path to it."""
    from palladian_spark.graph import (apply_component_delta,
                                       connected_components)
    from palladian_spark.operators.dedup import minhash_dedup_pairs
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_dedup_pairs(docs, threshold=0.2).persist()
    old_pairs = pairs.where((F.col("a_id") % 2 == 0)
                            & (F.col("b_id") % 2 == 0))
    new_pairs = pairs.subtract(old_pairs)
    old_labels = connected_components(old_pairs)
    return (apply_component_delta(old_labels, new_pairs)
            .select("node", "component"))


def _q_dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same near-dup cluster resolution as dedup_components, computed by
    the alternating large-star/small-star algorithm (O(log n) rounds —
    the deep-component scale path); identical labeling, same oracle."""
    from palladian_spark.graph import connected_components_star
    from palladian_spark.operators.dedup import minhash_dedup_pairs
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_dedup_pairs(docs, threshold=0.2)
    return connected_components_star(pairs).select("node", "component")


def _q_link_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity linking via normalized-key broadcast join (SURVEY.md §2.6):
    noisy mention values (lowercased, padded) → canonical entity ids."""
    from palladian_spark.linking import link_mentions
    supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    mentions = supplier.select(
        F.lit("c").alias("conv_id"), F.lit(0).cast("int").alias("turn_idx"),
        F.lit(0).cast("int").alias("start"), F.lit(1).cast("int").alias("end"),
        F.concat(F.lit("  supplier s"), F.col("s_suppkey").cast("string"),
                 F.lit(" ")).alias("value"),
        F.lit("CANDIDATE").alias("tag"), F.lit(1.0).alias("conf"))
    linked = link_mentions(mentions, _tpch_entity_dict(spark, sf_dir), fuzzy=False)
    return linked.select("value", "entity_id", "canonical", "concept")


def _q_remove_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval de-nesting sweep (Annotations.java:43-56 semantics) on
    deterministic spans derived from lineitem."""
    from palladian_spark.operators.mentions import remove_nested_df
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    spans = lineitem.select(
        F.concat(F.lit("g"), F.col("l_orderkey").cast("string")).alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        ((F.col("l_linenumber") - 1) * 5).cast("int").alias("start"),
        ((F.col("l_linenumber") - 1) * 5 + 1
         + (F.col("l_quantity").cast("int") * 7) % 9).cast("int").alias("end"),
        F.lit("s").alias("value"), F.lit("X").alias("tag"),
        F.lit(1.0).alias("conf"))
    kept = remove_nested_df(spans)
    return kept.select("conv_id",
                       F.col("start").alias("m_start"),
                       F.col("end").alias("m_end"))


def _q_combine_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacency merge, gaps-and-islands JVM-side (PalladianNer.java:573-601)."""
    from palladian_spark.operators.mentions import combine_adjacent_df
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    spans = lineitem.select(
        F.concat(F.lit("g"), F.col("l_orderkey").cast("string")).alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        ((F.col("l_linenumber") - 1) * 6).cast("int").alias("start"),
        ((F.col("l_linenumber") - 1) * 6 + 5).cast("int").alias("end"),
        F.concat(F.lit("w"), F.col("l_linenumber").cast("string")).alias("value"),
        F.when(F.col("l_linenumber") <= 2, F.lit("A")).otherwise(F.lit("B")).alias("tag"),
        F.lit(1.0).alias("conf"))
    merged = combine_adjacent_df(spans)
    return merged.select("conv_id",
                         F.col("start").alias("m_start"),
                         F.col("end").alias("m_end"), "value", "tag")


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy over turn text (duplicate turns are organic
    in the derived transcripts — same customer/supplier pair repeats)."""
    t = _tpch_transcripts(spark, sf_dir)
    return (t.groupBy(F.md5(F.col("text")).alias("fingerprint"))
            .agg(F.count("*").alias("n_dups"))
            .where(F.col("n_dups") > 1))


def _q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: token counting + quality ratios over documents."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.col("text"), " ")
    stop = F.filter(toks, lambda t: t.isin("the", "a"))
    return docs.select(
        "doc_id",
        F.size(toks).cast("int").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("int").alias("n_distinct"),
        F.length("text").cast("int").alias("n_chars"),
        (F.size(stop).cast("double") / F.size(toks)).alias("stopword_ratio"))


def _q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over whitespace-normalized lowercase text."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    return docs.select("doc_id", F.md5(norm).alias("fingerprint"))


def _q_similarity_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein similarity join on part names (JVM-side built-in;
    1 − dist/max(len) per LevenshteinSimilarity.java:24-37)."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    a = part.select(F.col("p_partkey").alias("a_key"), F.col("p_name").alias("a_name"),
                    F.col("p_type").alias("a_type"))
    b = part.select(F.col("p_partkey").alias("b_key"), F.col("p_name").alias("b_name"),
                    F.col("p_type").alias("b_type"))
    pairs = (a.join(b, (F.col("a_type") == F.col("b_type"))
                    & (F.col("a_key") < F.col("b_key"))))
    sim = (F.lit(1.0) - F.levenshtein("a_name", "b_name")
           / F.greatest(F.length("a_name"), F.length("b_name")))
    return (pairs.select("a_key", "b_key", sim.alias("lev_sim"))
            .where(F.col("lev_sim") >= 0.5))


def _q_ngram_dice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-3-gram Dice similarity (CharacterNGramSimilarity.java:50-85,
    '#'-padded) between part names of the same brand — pure Catalyst
    expressions (no UDF)."""
    part = spark.read.parquet(f"{sf_dir}/part.parquet")

    def grams(col):
        padded = F.concat(F.lit("##"), F.lower(col), F.lit("##"))
        idx = F.sequence(F.lit(1), F.length(padded) - 2)
        return F.array_distinct(
            F.transform(idx, lambda i: padded.substr(i, F.lit(3))))

    # materialize the gram arrays per part BEFORE the join — inside the
    # join projection Catalyst would recompute them once per PAIR (O(pairs)
    # instead of O(parts) gram builds: 343s → seconds at sf0.1).  Grams are
    # hashed to int64 once per part so the per-pair intersection compares
    # ints, not strings (collision odds over ~70 values are ~2⁻⁵², so
    # |intersect| is unchanged and the string-based oracle still matches).
    gexpr = grams(F.col("p_name"))
    g = part.select("p_partkey", "p_brand", F.lower("p_name").alias("lname"),
                    F.transform(gexpr, lambda s: F.xxhash64(s)).alias("grams"),
                    F.size(gexpr).alias("n_grams"))
    a = g.select(F.col("p_partkey").alias("a_key"), F.col("p_brand").alias("a_brand"),
                 F.col("lname").alias("a_lname"), F.col("grams").alias("a_g"),
                 F.col("n_grams").alias("a_n"))
    b = g.select(F.col("p_partkey").alias("b_key"), F.col("p_brand").alias("b_brand"),
                 F.col("lname").alias("b_lname"), F.col("grams").alias("b_g"),
                 F.col("n_grams").alias("b_n"))
    # length-band pruning, sound for the 0.5 threshold: |A∩B| ≤ min(a_n,
    # b_n), so dice ≥ 0.5 ⟺ 2·|A∩B| ≥ a_n + b_n ⟹ 3·min ≥ max.  Pairs
    # outside the band can never pass the final filter (equal-lname pairs
    # have equal gram counts, so the 1.0 special case survives too) —
    # same result set, fewer per-pair intersections materialized.
    band = (F.lit(3) * F.least("a_n", "b_n")) >= F.greatest("a_n", "b_n")
    pairs = a.join(b, (F.col("a_brand") == F.col("b_brand"))
                   & (F.col("a_key") < F.col("b_key")) & band)
    inter = F.size(F.array_intersect("a_g", "b_g"))
    dice = F.when(F.col("a_lname") == F.col("b_lname"), F.lit(1.0)) \
        .otherwise(2.0 * inter / (F.col("a_n") + F.col("b_n")))
    return (pairs.select("a_key", "b_key", F.round(dice, 6).alias("dice_sim"))
            .where(F.col("dice_sim") >= 0.5))


def _er_part_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    return part.select(F.col("p_partkey").alias("rec_id"),
                       F.col("p_name").alias("name"))


def _q_er_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked entity-resolution matcher over the part-name surface
    inventory (operators/entity_resolution.blocked_match_pairs): block on
    the first normalized token, sound length-band prune, composite
    0.5·Levenshtein + 0.5·char-3-gram-Dice score ≥ 0.7."""
    from palladian_spark.operators.entity_resolution import blocked_match_pairs
    return blocked_match_pairs(_er_part_records(spark, sf_dir),
                               threshold=0.7)


def _q_er_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full ER canonicalization: min-label connected components over the
    ≥0.7 match graph; every record gets (canonical_id, cluster_size),
    singletons canonicalize to themselves
    (operators/entity_resolution.resolve_entities)."""
    from palladian_spark.operators.entity_resolution import resolve_entities
    return resolve_entities(_er_part_records(spark, sf_dir), threshold=0.7)


def _q_er_stable_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-ID continuity across ER re-runs
    (entity_resolution.stable_canonical_ids): exact-name assignments
    from the even-id snapshot vs the full snapshot; every continued
    cluster keeps its old canonical id, births mint their own."""
    from palladian_spark.operators.entity_resolution import (
        stable_canonical_ids)
    from pyspark.sql import Window
    rec = _er_part_records(spark, sf_dir)
    w = Window.partitionBy("name")
    new = rec.select("rec_id", F.min("rec_id").over(w).alias("canonical_id"))
    old = (rec.where(F.col("rec_id") % 2 == 0)
           .select("rec_id", F.min("rec_id").over(w).alias("canonical_id")))
    return stable_canonical_ids(old, new)


def _q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures over 3-token shingles of documents (dedup
    building block): 4 hash seeds, md5-derived 32-bit values — engine-
    portable by construction."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - 2, F.lit(1)))
    shingles = F.array_distinct(F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i, 3))))
    exploded = docs.select("doc_id", F.explode(shingles).alias("shingle"))
    sigs = [
        F.min(F.conv(F.substring(F.md5(F.concat(F.lit(f"seed{k}|"),
                                                F.col("shingle"))), 1, 8),
                     16, 10).cast("long")).alias(f"minhash_{k}")
        for k in range(4)
    ]
    return exploded.groupBy("doc_id").agg(*sigs)


def _q_ann_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-1 neighbor per embedding via the distributed
    block-partitioned matmul: vectors packed into block rows, blocks
    cross-joined, chunked float64 matmul per block pair, window reduce.
    No driver-side collect of the vector table; memory per task is
    O(block²), never O(N²)."""
    from palladian_spark.operators.similarity_search import block_matmul_top_k
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return block_matmul_top_k(emb, k=1, round_decimals=4) \
        .select("a_id", "b_id", "cos_sim")


def _q_word_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word tokenizer with offsets (TOKEN_SPLIT_REGEX, Tokenizer.java:27)
    over derived transcripts; oracle enumerates the 10 expected tokens."""
    from palladian_spark.operators.mentions import word_tokens_df
    return (word_tokens_df(_tpch_transcripts(spark, sf_dir))
            .select("conv_id", "turn_idx", "tok_idx", "tok_start", "token"))


def _q_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PalladianSentenceDetector port over two-sentence turns; the oracle
    computes both sentences and their start offsets analytically."""
    from palladian_spark.operators.mentions import split_sentences_df
    t = _tpch_transcripts_2s(spark, sf_dir)
    return (split_sentences_df(t)
            .select("conv_id", "turn_idx", "sent_idx", "sent_start", "sentence"))


def _tpch_transcripts_2s(spark: SparkSession, sf_dir: str) -> DataFrame:
    from palladian_spark.data.transcripts import tpch_transcripts_df
    return tpch_transcripts_df(spark, sf_dir, two_sentences=True)


def _q_dict_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-model training as explode + hash agg (SURVEY.md §2.4,
    DictionaryTrieModel.java:83-100) over documents with lang as category."""
    from palladian_spark.classification.train_df import build_dictionary_df
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return build_dictionary_df(docs, "lang").select("term", "category", "count")


def _q_classify_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational DefaultScorer classification (PalladianTextClassifier.java:
    101-133): broadcast dict join + per-doc agg + normalize + argmax."""
    from palladian_spark.classification.train_df import (
        build_dictionary_df, category_priors_df, classify_df)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = build_dictionary_df(docs, "lang")
    p = category_priors_df(docs, "lang")
    return classify_df(docs, d, p, ["doc_id"], round_decimals=4) \
        .select("doc_id", "predicted", "prob")


def _q_classify_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational BayesScorer(LAPLACE+PRIORS) classification
    (BayesScorer.java:41-108): laplace-smoothed log-space scoring of every
    doc term against every category, prior added, log-inversion
    normalization — the Bayes twin of classify_default."""
    from palladian_spark.classification.train_df import (
        build_dictionary_df, category_priors_df, classify_bayes_df)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = build_dictionary_df(docs, "lang")
    p = category_priors_df(docs, "lang")
    return classify_bayes_df(docs, d, p, ["doc_id"], round_decimals=4) \
        .select("doc_id", "predicted", "prob")


def _q_entity_dict_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """buildEntityDictionary (PalladianNer.java:326-333): surface → type
    counts over the full NER chain's output."""
    from palladian_spark.operators.mentions import extract_mentions
    from palladian_spark.ner.train_df import build_entity_dictionary_df
    t = _tpch_transcripts(spark, sf_dir)
    mentions = extract_mentions(t, _tpch_model(spark, sf_dir))
    return build_entity_dictionary_df(mentions).select("value", "tag", "n")


def _q_case_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """buildCaseDictionary (PalladianNer.java:191-222), relational form."""
    from palladian_spark.ner.train_df import build_case_dictionary_df
    t = _tpch_transcripts(spark, sf_dir)
    return build_case_dictionary_df(t).select(
        "token", "n_total", "n_lower", F.round("prob", 6).alias("prob"))


def _q_mine_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PatternAnalyzer-shaped predicate mining (PatternAnalyzer.java:46-64):
    frequent inter-mention windows per type pair."""
    from palladian_spark.relations import mine_patterns_df
    t = _tpch_transcripts(spark, sf_dir)
    return (mine_patterns_df(t, _tpch_model(spark, sf_dir))
            .select("subj_type", "obj_type", "window",
                    F.col("count").alias("n")))


def _q_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-sentence mention pair counts (CoOccurrenceRetriever.java:27-60)
    via the relational join path: candidates ⋈ sentences ⋈ self.

    The synthetic lineitem carries duplicate (orderkey, linenumber) rows →
    duplicate (conv_id, turn_idx) keys with different texts, which would
    cross-match in the relational join; dedupe turns deterministically
    (min text per key) first."""
    from pyspark.sql import Window
    from palladian_spark.operators.mentions import (
        extract_candidates, split_sentences_df)
    from palladian_spark.relations import cooccurrence_pairs
    t = _tpch_transcripts(spark, sf_dir)
    w = Window.partitionBy("conv_id", "turn_idx").orderBy("text")
    t = (t.withColumn("_rn", F.row_number().over(w))
         .where(F.col("_rn") == 1).drop("_rn"))
    pairs = cooccurrence_pairs(extract_candidates(t), split_sentences_df(t))
    return pairs.select("left_value", "left_tag", "right_value", "right_tag",
                        F.col("count").alias("n"))


def _q_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI association strength over the same-sentence co-occurrence
    pairs (relations.pmi_associations) — chance co-mentions rank below
    genuinely associated entity pairs."""
    from palladian_spark.relations import pmi_associations
    return pmi_associations(_q_cooccurrence(spark, sf_dir))


def _q_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash → LSH bands → bucket join → exact-Jaccard verify
    (the scale path for near-dup detection)."""
    from palladian_spark.operators.dedup import minhash_dedup_pairs
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_dedup_pairs(docs, threshold=0.2) \
        .select("a_id", "b_id", "jaccard")


def _q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded near-dup pairs (Hamming ≤ 3 over 16-bit
    fingerprints, 4 bit-bands).  The oracle is the brute-force ALL-PAIRS
    Hamming filter — so the hash match also PROVES the pigeonhole
    recall guarantee (bands lose no pair at d ≤ n_bands − 1), not just
    replays the banding."""
    from palladian_spark.operators.dedup import simhash_neardup_pairs
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash_neardup_pairs(docs).select("a_id", "b_id", "hamming")


def _q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-over-snapshot dedup: documents with doc_id < 250 are the
    existing (already-deduped) corpus, the rest are the new crawl batch;
    each new doc gets an exact-dup flag (hash semi-join vs base) and its
    best verified near-dup base doc (LSH bands new×base only — the base
    is never re-paired against itself).  threshold 0.2 mirrors
    lsh_dedup_pairs so the cross-split matches are non-trivial."""
    from palladian_spark.operators.dedup import incremental_dedup
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.where(F.col("doc_id") < 250)
    new = docs.where(F.col("doc_id") >= 250)
    return incremental_dedup(base, new, threshold=0.2) \
        .select("doc_id", "dup_exact", "near_dup_of", "jaccard")


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprints (per-token md5 bit votes, majority)."""
    from palladian_spark.operators.dedup import simhash
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash(docs).select("doc_id", "simhash")


def _q_ngram_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-3-gram Jaccard near-dup pairs within length-blocking buckets."""
    from palladian_spark.operators.dedup import ngram_jaccard_pairs
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ngram_jaccard_pairs(docs, threshold=0.5) \
        .select("a_id", "b_id", "jaccard")


def _q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs.  method="auto" takes the exact
    distributed block-matmul branch at this scale (≤ max_exact_rows) and
    the LSH-bucketed branch beyond it — neither collects vectors to the
    driver."""
    from palladian_spark.operators.dedup import embedding_neardup_pairs
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_neardup_pairs(emb, threshold=0.3) \
        .select("a_id", "b_id", "cos_sim")


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-classifier language ID (char-4-gram profile through the
    §2.4 DefaultScorer stack — the reference-faithful path; the marker
    heuristic remains as text_quality.language_id for cheap triage).
    min_count is PINNED to 1 because the SQL oracle models an unpruned
    dictionary: the production default (None) derives pruning from corpus
    size, which would diverge from the oracle above ~200k training docs."""
    from palladian_spark.operators.text_quality import language_id_clf
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return language_id_clf(docs, min_count=1) \
        .select("doc_id", "lang_pred", "lang_prob")


def _q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document-quality features + composite score."""
    from palladian_spark.operators.text_quality import quality_scores
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return quality_scores(docs)


def _q_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition fractions (dup-token /
    top-token / top-bigram) — the boilerplate-and-spam curation signal."""
    from palladian_spark.operators.text_quality import repetition_scores
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return repetition_scores(docs)


def _q_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: per-doc email/IPv4/phone counts + redacted text
    (fixed email → IP → phone replacement order, codegen-only)."""
    from palladian_spark.operators.pii import scrub_pii
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return scrub_pii(docs)


def _q_quality_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality z-scores + |z| > 2 outlier flags (exact
    decimal moments, order-independent)."""
    from palladian_spark.operators.text_quality import quality_outliers
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return quality_outliers(docs).select(
        "doc_id", "lang", "quality", "z_score", "is_outlier")


def _q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-count distribution (exact percentiles + exact
    mean) — the profiling rollup that picks curation length gates."""
    from palladian_spark.operators.text_quality import corpus_stats
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus_stats(docs).select(
        "lang", "n_docs", "p25_tokens", "p50_tokens", "p75_tokens",
        "p95_tokens", "mean_tokens", "max_tokens")


def _q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenization counting."""
    from palladian_spark.operators.text_quality import bpe_token_counts
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bpe_token_counts(docs)


def _q_rolling_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style sparse shingle fingerprints."""
    from palladian_spark.operators.text_quality import rolling_fingerprints
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return rolling_fingerprints(docs).select("doc_id", "fingerprint")


def _q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload column → Arrow-batched metadata
    extraction (decode step stubbed deterministically; the schema, batch
    loop and partitioning are the real production shape)."""
    from palladian_spark.operators.multimodal import (
        extract_media_metadata, synthesize_media)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = synthesize_media(docs)
    return extract_media_metadata(media).select(
        "media_id", "media_type", "payload_len", "sha",
        "width", "height", "n_frames")


def _q_cooccurrence_document(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOCUMENT-scope co-occurrence (CoOccurrenceRetriever's DOCUMENT
    context, document = conversation): distinct conversation-level entity
    vocabulary self-joined per conversation."""
    from palladian_spark.operators.mentions import extract_mentions
    from palladian_spark.relations import cooccurrence_document_pairs
    t = _tpch_transcripts(spark, sf_dir)
    mentions = extract_mentions(t, _tpch_model(spark, sf_dir))
    return cooccurrence_document_pairs(mentions) \
        .select("left_value", "left_tag", "right_value", "right_tag", "n")


def _q_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing (every-Nth frame per video payload): the
    explode shape a real sampler produces, over the deterministic fake
    decode — the oracle recomputes the fake frame count from the payload
    sha and replays the stride arithmetic."""
    from palladian_spark.operators.multimodal import (
        sample_frames_stub, synthesize_media)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    media = synthesize_media(docs)
    return sample_frames_stub(media, every_n=10).select(
        "media_id", F.col("frame_idx").cast("int").alias("frame_idx"))


def _q_ann_lsh_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-1 neighbor via multi-table random-hyperplane LSH —
    the ≥10⁷-vector scale path.  n_planes=None derives the bucket count
    from N (expected bucket ≈ target_bucket_rows — not round 1's fixed
    256 buckets), n_tables=2 is the banding that buys recall, and bucket
    scoring is chunked so no task holds an O(bucket²) matrix.
    Approximate by design — but DETERMINISTIC given (seed, dim): the
    oracle regenerates the same hyperplanes from RandomState(seed) (the
    stable-prefix draw in _lsh_planes makes them independent of the
    N-derived plane count) and replays signature → bucket → candidate →
    rank fully in SQL, so this row is hash-verified end to end; pytest
    keeps the recall-vs-exact gate for approximation quality."""
    from palladian_spark.operators.similarity_search import lsh_bucketed_top_k
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return lsh_bucketed_top_k(emb, k=1, n_planes=None, n_tables=2, seed=42) \
        .select("a_id", "b_id", "cos_sim")


def _q_complete_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Complete-mode retrain (PalladianNer.java:418-436): a
    second tagging pass over the training transcripts, ERROR1 overlap
    anti-join against an analytic gold (customer + supplier spans of the
    fixed template), then the removeAnnotations value anti-join.  With
    gold omitting the nation spans, the remove set is exactly the
    lowercased nation surfaces — which the oracle states from the base
    tables."""
    from palladian_spark.ner.train_df import complete_retrain_df
    transcripts = _tpch_transcripts(spark, sf_dir)
    model = _tpch_model(spark, sf_dir)
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    base = lineitem.join(orders,
                         lineitem.l_orderkey == orders.o_orderkey)
    conv = F.concat(F.lit("conv-"), F.col("l_orderkey").cast("string"))
    turn = F.col("l_linenumber").cast("int")
    cust = F.concat(F.lit("Customer C"), F.col("o_custkey").cast("string"))
    supp = F.concat(F.lit("Supplier S"), F.col("l_suppkey").cast("string"))
    gold_c = base.select(
        conv.alias("conv_id"), turn.alias("turn_idx"),
        F.lit(0).cast("int").alias("start"),
        F.length(cust).cast("int").alias("end"),
        cust.alias("value"), F.lit("PER").alias("tag"))
    gold_s = base.select(
        conv.alias("conv_id"), turn.alias("turn_idx"),
        (F.length(cust) + 11).cast("int").alias("start"),
        (F.length(cust) + 11 + F.length(supp)).cast("int").alias("end"),
        supp.alias("value"), F.lit("ORG").alias("tag"))
    gold = gold_c.unionByName(gold_s)
    _, remove = complete_retrain_df(transcripts, gold, model)
    return remove.select("remove_value")


_MONTHS_FULL = ["January", "February", "March", "April", "May", "June",
                "July", "August", "September", "October", "November",
                "December"]
_MONTHS_SHORT = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug",
                 "Sep", "Oct", "Nov", "Dec"]
_WEEKDAYS_SHORT = ["Sun", "Mon", "Tue", "Wed", "Thu", "Fri", "Sat"]


def _dates_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-order text embedding five date formats
    (RFC-1123, ISO, EU dotted, US slashed, long US) — shared by the
    dates_tagged and dates_normalized contract queries."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    d0 = F.to_date("o_orderdate")

    def s(c):
        return c.cast("string")

    def pad2(c):
        return F.lpad(c.cast("string"), 2, "0")

    fm = F.array(*[F.lit(x) for x in _MONTHS_FULL])
    sm = F.array(*[F.lit(x) for x in _MONTHS_SHORT])
    wd = F.array(*[F.lit(x) for x in _WEEKDAYS_SHORT])

    def iso(d):
        return F.concat_ws("-", s(F.year(d)), pad2(F.month(d)),
                           pad2(F.dayofmonth(d)))

    def eu(d):
        return F.concat(s(F.dayofmonth(d)), F.lit("."), s(F.month(d)),
                        F.lit("."), s(F.year(d)))

    def us(d):
        return F.concat(s(F.month(d)), F.lit("/"), s(F.dayofmonth(d)),
                        F.lit("/"), s(F.year(d)))

    def longd(d):
        return F.concat(F.element_at(fm, F.month(d)), F.lit(" "),
                        s(F.dayofmonth(d)), F.lit(", "), s(F.year(d)))

    hh = pad2(F.pmod(F.col("o_custkey"), F.lit(24)))
    mm = pad2(F.pmod(F.col("o_orderkey"), F.lit(60)))
    ss = pad2(F.pmod(F.col("o_orderkey") * 7, F.lit(60)))
    d4 = F.date_add(d0, 4)
    rfc = F.concat(F.element_at(wd, F.dayofweek(d4)), F.lit(", "),
                   pad2(F.dayofmonth(d4)), F.lit(" "),
                   F.element_at(sm, F.month(d4)), F.lit(" "), s(F.year(d4)),
                   F.lit(" "), hh, F.lit(":"), mm, F.lit(":"), ss,
                   F.lit(" GMT"))
    text = F.concat(F.lit("Order logged "), rfc, F.lit(" confirmed "),
                    iso(d0), F.lit(" eu "), eu(F.date_add(d0, 1)),
                    F.lit(" us "), us(F.date_add(d0, 2)),
                    F.lit(" on "), longd(F.date_add(d0, 3)), F.lit(" ok"))
    return orders.select(
        F.concat(F.lit("d"), s(F.col("o_orderkey"))).alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"), text.alias("text"))


def _q_dates_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full DateParser/DateAndTimeTagger port (42 RegExp.ALL_DATE_FORMATS
    patterns + context-year, trial order + masking + digit-neighbor rules
    from DateParser.java:197-254) over transcripts with five embedded date
    formats per turn.  The oracle reconstructs every expected (value, fmt,
    offset) analytically from the same deterministic text construction."""
    from palladian_spark.operators.dates_df import tag_datetimes_df
    return tag_datetimes_df(_dates_transcripts(spark, sf_dir)) \
        .select("conv_id", "turn_idx", "value", "fmt", "m_start")


def _q_dates_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DateParserLogic normalization half (DateParserLogic.java:66-283 via
    textproc/date_logic.py): every DATETIME mention with typed
    (year, month, day, hour, minute, second, tz) fields.  context_year
    pinned to 2026 so two-digit-year folding is deterministic (the
    embedded formats all use four-digit years, so the pin is belt and
    braces for the oracle).  The oracle states the expected calendar
    fields analytically from the same date arithmetic that built the
    text."""
    from palladian_spark.operators.dates_df import (
        tag_datetimes_normalized_df)
    return tag_datetimes_normalized_df(
        _dates_transcripts(spark, sf_dir), context_year=2026).select(
        "conv_id", "turn_idx", "value", "fmt", "m_start", "year", "month",
        "day", "hour", "minute", "second", "tz")


def _q_ann_ivf_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-1 neighbor via an IVF coarse quantizer (centroids
    → posting lists → n_probe probed lists per query) — the second scale
    path for similarity search next to LSH.  The contract pins
    quantizer="sample" (centroids = the √N lowest-id vectors) so the
    assignment is engine-replayable and the oracle hash-verifies the full
    pipeline; production default stays k-means|| (quantizer choice moves
    recall, never pair soundness — scoring in probed lists is exact).
    Recall-vs-exact for the k-means path stays gated in pytest."""
    from palladian_spark.operators.similarity_search import ivf_top_k
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_top_k(emb, k=1, n_probe=2, seed=42, quantizer="sample") \
        .select("a_id", "b_id", "cos_sim")


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization of the events stream (30-min
    inactivity timeout) — the conversation-segmentation shape at scale."""
    from palladian_spark.operators.events import sessionize
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize(ev).select("user_id", "session_id", "session_start",
                                 "session_end", "n_events", "total_value")


def _q_event_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-hour rollup per event_type (batch twin of the streaming
    watermarked agg)."""
    from palladian_spark.operators.events import windowed_event_counts
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return windowed_event_counts(ev)


def _q_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity profile in one hash agg."""
    from palladian_spark.operators.events import user_activity
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return user_activity(ev)


def _q_kg_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered, hash-gated negative sampling over the constructed KG
    (KG-embedding training prep): corrupt each distinct triple's object
    with an md5-picked vocabulary entity, drop no-ops and corruptions
    that collide with true triples."""
    from palladian_spark.operators.kg_training import negative_samples
    return negative_samples(
        _q_triples(spark, sf_dir).select("subj", "pred", "obj"), n_neg=2)


def _q_kg_entity_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/valid/test split of the KG: fold gate hashes
    the UNORDERED entity pair so inverse/duplicate relations between the
    same entities never straddle folds."""
    from palladian_spark.operators.kg_training import entity_split
    return entity_split(
        _q_triples(spark, sf_dir).select("subj", "pred", "obj"),
        valid_frac=0.1, test_frac=0.1)


def _q_kg_infer_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One forward-chaining inference step over the constructed KG:
    works_for(x,y) ∧ located_in(y,z) ⇒ based_in(x,z), anti-joined
    against the asserted set, with the deriving rule as provenance."""
    from palladian_spark.operators.kg_fusion import infer_triples
    return infer_triples(_q_triples(spark, sf_dir))


def _q_kg_relation_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-predicate cardinality profile (n_edges / n_subj / n_obj /
    tails-per-head / heads-per-tail / 1-1|1-N|N-1|N-N class) over the
    constructed KG's distinct edges."""
    from palladian_spark.operators.kg_fusion import relation_cardinality
    return relation_cardinality(_q_triples(spark, sf_dir))


def _q_kg_resolve_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Knowledge-fusion truth finding: per (subj, pred) keep the object
    with the most (conv, turn) observations, ties by object ascending,
    reporting alternative count and total evidence."""
    from palladian_spark.operators.kg_fusion import resolve_facts
    return resolve_facts(_q_triples(spark, sf_dir))


def _q_kg_encode_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense int64 (s_idx, p_idx, o_idx) tensor encoding of the distinct
    triple set via sorted entity/predicate vocabularies."""
    from palladian_spark.operators.kg_fusion import encode_triples
    return encode_triples(_q_triples(spark, sf_dir))


def _q_kg_bernoulli_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cardinality-aware (TransH Bernoulli) filtered negative sampling:
    head-vs-tail corruption chosen by the exact integer gate
    hash % (n_subj + n_obj) < n_obj per predicate, replacement entity
    md5-picked, no-ops and true-triple collisions dropped."""
    from palladian_spark.operators.kg_fusion import bernoulli_negative_samples
    return bernoulli_negative_samples(
        _q_triples(spark, sf_dir).select("subj", "pred", "obj"), n_neg=2)


def _q_kg_inverse_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse/symmetric relation discovery (kg_fusion.
    inverse_relation_candidates): the pipeline triples plus a partial
    deterministic 'employs' reversal of works_for (even supplier ids),
    so both directions carry non-trivial AMIE-style confidences."""
    from palladian_spark.operators.kg_fusion import inverse_relation_candidates
    t = _q_triples(spark, sf_dir).select("subj", "pred", "obj")
    emp = (t.where((F.col("pred") == "works_for")
                   & (F.regexp_extract("obj", r"S(\d+)$", 1).cast("int")
                      % 2 == 0))
           .select(F.col("obj").alias("subj"),
                   F.lit("employs").alias("pred"),
                   F.col("subj").alias("obj")))
    return inverse_relation_candidates(t.unionByName(emp), min_overlap=2)


def _q_kg_neighborhood_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphSAGE-style 1-hop neighborhood feature table per node
    (graph.neighborhood_features) — the tabular training-data companion
    to the walk corpus / negative samples."""
    from palladian_spark.graph import neighborhood_features
    return neighborhood_features(_q_triples(spark, sf_dir))


def _q_kg_rule_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMIE-lite chain-rule mining (kg_fusion.mine_chain_rules): the
    pipeline triples enriched with a deterministic partial 'based_in'
    head (even customer ids) so the works_for∧located_in ⇒ based_in
    rule carries a non-trivial mined confidence."""
    from palladian_spark.operators.kg_fusion import mine_chain_rules
    t = _q_triples(spark, sf_dir).select("subj", "pred", "obj")
    wf = t.where(F.col("pred") == "works_for") \
        .select(F.col("subj").alias("x"), F.col("obj").alias("y"))
    li = t.where(F.col("pred") == "located_in") \
        .select(F.col("subj").alias("y"), F.col("obj").alias("z"))
    based = (wf.join(li, "y")
             .where(F.regexp_extract("x", r"C(\d+)$", 1).cast("int")
                    % 2 == 0)
             .select("x", F.lit("based_in").alias("pred"),
                     F.col("z").alias("obj"))
             .withColumnRenamed("x", "subj").distinct())
    return mine_chain_rules(t.unionByName(based), min_support=2)


def _q_kg_type_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-majority type inference (graph.infer_node_types):
    customers (PER) and nations (LOC) seed the propagation; suppliers —
    deliberately unseeded — adopt the majority type of their typed
    neighbors (ties → type name ascending), two rounds."""
    from palladian_spark.graph import infer_node_types
    t = _q_triples(spark, sf_dir).select("subj", "pred", "obj")
    edges = t.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    nodes = (t.select(F.col("subj").alias("node"))
             .unionAll(t.select(F.col("obj").alias("node"))).distinct())
    seeds = (nodes.where(F.col("node").startswith("Customer "))
             .select("node", F.lit("PER").alias("type"))
             .unionByName(
                 nodes.where(F.col("node").startswith("Nation "))
                 .select("node", F.lit("LOC").alias("type"))))
    return infer_node_types(edges, seeds, n_rounds=2)


def _q_kg_truth_decayed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted truth finding (kg_fusion.resolve_facts_weighted
    over kg_temporal.recency_weighted_edges): per (subj, pred) the
    object with the most decay-weighted evidence — fresh assertions
    outrank stale piles."""
    from palladian_spark.operators.kg_fusion import resolve_facts_weighted
    from palladian_spark.operators.kg_temporal import recency_weighted_edges
    return resolve_facts_weighted(
        recency_weighted_edges(_kg_observations(spark, sf_dir),
                               half_life_days=365, cap=3))


def _q_kg_ego(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ego-network extraction (graph.ego_subgraph): the 2-hop undirected
    neighborhood subgraph around the fixed seed entity 'Nation N3' —
    the entity-card query."""
    from palladian_spark.graph import ego_subgraph
    t = _q_triples(spark, sf_dir).select("subj", "pred", "obj")
    edges = t.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    seeds = spark.createDataFrame([("Nation N3",)], ["node"])
    return ego_subgraph(edges, seeds, k=2)


def _q_kg_pagerank_warm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warm-started PageRank (graph.pagerank(init_ranks=...)): 2
    refresh iterations from a degree-proportional start vector
    (out_degree / |edges|, dangling nodes 1/N) — the incremental rank
    refresh path, driver-checked; the oracle unrolls both iterations
    from the same init."""
    from pyspark.storagelevel import StorageLevel
    from palladian_spark.graph import pagerank
    t = _q_triples(spark, sf_dir)
    e = (t.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
         .distinct().persist(StorageLevel.MEMORY_AND_DISK))
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node"))).distinct())
    n = nodes.count()
    m = e.count()
    outd = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    init = (nodes.join(outd, nodes.node == outd.src, "left")
            .select("node",
                    F.coalesce(F.col("d").cast("double") / F.lit(float(m)),
                               F.lit(1.0 / n)).alias("rank")))
    return pagerank(e, n_iter=2, init_ranks=init).select("node", "rank")


def _kg_observations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observation-level triples with timestamps: the pipeline's triples
    joined to the distinct (conv, turn, ts) turn timestamps (duplicate
    (conv_id, turn_idx) transcript keys carry several ts by
    construction — each is a distinct observation)."""
    tst = (_tpch_transcripts(spark, sf_dir)
           .select("conv_id", "turn_idx", "ts").distinct())
    return (_q_triples(spark, sf_dir)
            .join(tst, ["conv_id", "turn_idx"])
            .select("subj", "pred", "obj", "ts", "conv_id", "turn_idx")
            .distinct())


def _q_fact_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 fact history: per (subj, pred) the object-change intervals
    [valid_from, valid_to) with 1-based versions over the timestamped
    observation stream."""
    from palladian_spark.operators.kg_temporal import fact_transitions
    return fact_transitions(_kg_observations(spark, sf_dir))


def _q_entity_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity activity profile (obs count, distinct convs, first/last
    seen, subject/object role split) over the observation stream."""
    from palladian_spark.operators.kg_temporal import entity_timeline
    return entity_timeline(_kg_observations(spark, sf_dir))


#: Point-in-time instant for the kg_as_of contract query — mid-corpus
#: (TPC-H shipdates span 1992–1998); the SAME literal appears in the
#: oracle SQL.
_AS_OF_TS = "1995-06-17 00:00:00"


def _q_kg_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time KG: the facts whose SCD2 validity interval covers
    the fixed mid-corpus instant (kg_temporal.facts_as_of)."""
    from palladian_spark.operators.kg_temporal import facts_as_of
    return facts_as_of(_kg_observations(spark, sf_dir), _AS_OF_TS)


def _q_kg_top_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity summarization: the 3 best-supported facts per subject with
    a deterministic rank (kg_temporal.top_facts)."""
    from palladian_spark.operators.kg_temporal import top_facts
    return top_facts(_kg_observations(spark, sf_dir), k=3)


def _q_kg_degrees_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental KG maintenance: degrees of the pre-1996 snapshot
    updated with the snapshot diff against the full graph
    (graph.apply_degree_delta over graph.kg_snapshot_diff) — the oracle
    computes the full-graph degrees directly, pinning the incremental
    path to the recompute."""
    from palladian_spark.graph import (kg_degrees, kg_snapshot_diff,
                                       apply_degree_delta)
    obs = _kg_observations(spark, sf_dir)
    new = obs.select("subj", "pred", "obj").distinct()
    old = (obs.where(F.col("ts") < F.to_timestamp(F.lit("1996-01-01 00:00:00")))
           .select("subj", "pred", "obj").distinct())
    diff = kg_snapshot_diff(old, new)
    return (apply_degree_delta(kg_degrees(old), diff)
            .select("node", F.col("out_degree").cast("long").alias("out_degree"),
                    F.col("in_degree").cast("long").alias("in_degree")))


def _q_kg_edges_decayed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted edge table: evidence with bucketed power-of-two
    decay from the stream's max timestamp (kg_temporal.
    recency_weighted_edges) — the freshness prior for weighted rank /
    truth finding; weights are exact integers so the agg is
    order-independent."""
    from palladian_spark.operators.kg_temporal import recency_weighted_edges
    return recency_weighted_edges(_kg_observations(spark, sf_dir),
                                  half_life_days=365, cap=3)


def _q_schema_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instance-driven schema induction: per (pred, subj_type, obj_type)
    support and within-predicate fraction (type = first surface token)."""
    from palladian_spark.operators.kg_fusion import schema_induction
    return schema_induction(_q_triples(spark, sf_dir))


def _q_export_ntriples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-materialize export: the distinct triple set serialized as
    N-Triples lines with namespace-minted IRIs."""
    from palladian_spark.operators.kg_fusion import export_ntriples
    return export_ntriples(_q_triples(spark, sf_dir))


def _q_kg_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities (2 unnormalized iterations — exact integer
    path counts, one end normalization) over the constructed KG's
    subj→obj edge set."""
    from palladian_spark.graph import hits
    return hits(_q_triples(spark, sf_dir)
                .select(F.col("subj").alias("src"),
                        F.col("obj").alias("dst")), n_iter=2)


def _q_conversation_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size (4-turn) extraction windows per conversation under
    stable (conv_id, turn_idx) order — the north-rule turn-windowing
    stage as a checked artifact."""
    from palladian_spark.operators.conv_analysis import conversation_windows
    return conversation_windows(_tpch_transcripts(spark, sf_dir), window=4)


def _q_tool_usage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tool usage profile (the input schema's `tool` column).  The
    derived transcripts carry NULL tool, so the query materializes a
    deterministic tool assignment (turn_idx mod 3 → search/NULL/code)
    that the oracle mirrors."""
    from palladian_spark.operators.conv_analysis import tool_usage_stats
    tr = _tpch_transcripts(spark, sf_dir).withColumn(
        "tool",
        F.when(F.col("turn_idx") % 3 == 0, F.lit("search"))
         .when(F.col("turn_idx") % 3 == 2, F.lit("code")))
    return tool_usage_stats(tr)


def _q_kg_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank seeded at the KG's highest-degree hub
    (same deterministic seed as kg_bfs): proximity-to-hub ranking,
    3 decimal-exact iterations replayed in the oracle."""
    from pyspark.storagelevel import StorageLevel

    from palladian_spark.graph import pagerank
    t = _q_triples(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    e = t.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    und = e.where(F.col("src") != F.col("dst")).distinct()
    nbr = und.unionAll(und.select(F.col("dst").alias("src"),
                                  F.col("src").alias("dst"))).distinct()
    seed = (nbr.groupBy(F.col("src").alias("node"))
            .agg(F.count(F.lit(1)).alias("_d"))
            .agg(F.expr("max_by(node, struct(_d, node))").alias("node")))
    return pagerank(e, n_iter=3, seeds=seed)


def _q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data chunking: overlapping 64-token windows (stride 48)
    over the documents table — one projection + one explode, shuffle-free."""
    from palladian_spark.operators.chunking import chunk_documents
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_documents(docs, size=64, stride=48)


def _q_kg_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop BFS neighborhood of the KG's highest-degree hub node
    (degree over the undirected simple graph; ties by greatest node —
    deterministic): (node, dist ≤ 2)."""
    from pyspark.storagelevel import StorageLevel

    from palladian_spark.graph import bfs_levels
    t = _q_triples(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    e = t.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    und = (e.where(F.col("src") != F.col("dst")).distinct()
           .select("src", "dst"))
    nbr = und.unionAll(und.select(F.col("dst").alias("src"),
                                  F.col("src").alias("dst"))).distinct()
    seed = (nbr.groupBy(F.col("src").alias("node"))
            .agg(F.count(F.lit(1)).alias("_d"))
            .agg(F.expr("max_by(node, struct(_d, node))").alias("node")))
    return bfs_levels(e, seed, max_depth=2)


def _q_kg_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the entity graph after exactly 3 peeling rounds:
    (node, surviving degree) — the dense backbone a curation pass keeps
    when pruning the long tail of weakly-connected entities."""
    from pyspark.storagelevel import StorageLevel

    from palladian_spark.graph import kcore
    t = _q_triples(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    e = t.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    return kcore(e, k=3, rounds=3)


def _q_kg_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DeepWalk corpus over the directed entity graph:
    one 2-step walk per non-sink node, next hop chosen by a portable
    LCG mix (replayed exactly by the oracle) — the graph-embedding
    training-data stage."""
    from pyspark.storagelevel import StorageLevel

    from palladian_spark.graph import random_walks
    t = _q_triples(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    e = t.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    return random_walks(e, walk_len=2, seed=7)


def _q_kg_walks_biased(spark: SparkSession, sf_dir: str) -> DataFrame:
    """node2vec second-order walk corpus (p=2, q=2: both return and
    out-hop discouraged 2×) over the directed entity graph — exact
    integer weights, every step replayed by the oracle."""
    from pyspark.storagelevel import StorageLevel

    from palladian_spark.graph import biased_random_walks
    t = _q_triples(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    e = t.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    return biased_random_walks(e, walk_len=2, seed=7,
                               p_num=2, p_den=1, q_num=2, q_den=1)


def _q_walk_skipgrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """node2vec training pairs: skip-gram (center, context) counts within
    a ±2-step window over the deterministic walk corpus of kg_walks."""
    from pyspark.storagelevel import StorageLevel

    from palladian_spark.graph import random_walks
    from palladian_spark.operators.kg_training import walk_skipgrams
    t = _q_triples(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    e = t.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    return walk_skipgrams(random_walks(e, walk_len=2, seed=7), window=2)


def _q_extraction_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline quality gauge: per conversation, how many turns exist,
    how many yielded at least one triple, and the coverage ratio — the
    first thing an extraction-quality dashboard plots."""
    t = _tpch_transcripts(spark, sf_dir)
    turns = (t.select("conv_id", "turn_idx").distinct()
             .groupBy("conv_id")
             .agg(F.count(F.lit(1)).cast("long").alias("n_turns")))
    covered = (_q_triples(spark, sf_dir)
               .select("conv_id", "turn_idx").distinct()
               .groupBy("conv_id")
               .agg(F.count(F.lit(1)).cast("long").alias("n_covered")))
    return (turns.join(covered, "conv_id", "left")
            .select("conv_id", "n_turns",
                    F.coalesce("n_covered", F.lit(0)).cast("long")
                    .alias("n_covered"))
            .withColumn("coverage",
                        F.round(F.col("n_covered") / F.col("n_turns"), 6)))


def _q_kg_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-truss of the entity co-mention graph after 2 peels: surviving
    canonical edges with their last-round triangle support
    (graph.ktruss) — the edge-level dense backbone next to kg_kcore's
    node-level one.  Same co-mention edge construction as kg_triangles."""
    from pyspark.storagelevel import StorageLevel

    from palladian_spark.graph import ktruss
    t = _q_triples(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    direct = t.select(F.col("subj").alias("u"), F.col("obj").alias("v"))
    wf = (t.where(F.col("pred") == "works_for")
          .select("conv_id", "turn_idx", F.col("subj").alias("cust"),
                  F.col("obj").alias("mid")))
    li = (t.where(F.col("pred") == "located_in")
          .select("conv_id", "turn_idx", F.col("subj").alias("mid"),
                  F.col("obj").alias("nat")))
    closure = (wf.join(li, ["conv_id", "turn_idx", "mid"])
               .select(F.col("cust").alias("u"), F.col("nat").alias("v")))
    return ktruss(direct.union(closure), k=3, rounds=2,
                  src_col="u", dst_col="v")


def _q_kg_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Irreflexive transitive closure of the entity graph with min hop
    distance (graph.transitive_closure, path-doubling — O(log diameter)
    rounds): the reachability/hierarchy-reasoning op a KG consumer runs
    over chain predicates (here works_for∘located_in gives the dist-2
    cust→nation pairs next to the dist-1 edges)."""
    from palladian_spark.graph import transitive_closure
    e = (_q_triples(spark, sf_dir)
         .select(F.col("subj").alias("src"), F.col("obj").alias("dst")))
    return transitive_closure(e, max_rounds=4)


def _q_kg_motif_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path-pattern query surface (graph.match_motif): every
    (a)-[works_for]->(b)-[located_in]->(c) instance in the KG."""
    from palladian_spark.graph import match_motif
    return match_motif(_q_triples(spark, sf_dir),
                       "(a)-[works_for]->(b)-[located_in]->(c)")


def _q_turn_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation response-latency profile over the turn stream
    (conv_analysis.turn_latency_stats)."""
    from palladian_spark.operators.conv_analysis import turn_latency_stats
    return turn_latency_stats(_tpch_transcripts(spark, sf_dir))


def _q_kg_role_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Speaker attribution per fact: user- vs assistant-authored
    assertion counts (graph.kg_role_provenance)."""
    from palladian_spark.graph import kg_role_provenance
    return kg_role_provenance(_q_triples(spark, sf_dir),
                              _tpch_transcripts(spark, sf_dir))


def _q_conv_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation KG subgraph profile: distinct nodes/edges and
    density — the entity-density curation signal (graph.conv_graph_stats)."""
    from palladian_spark.graph import conv_graph_stats
    return conv_graph_stats(_q_triples(spark, sf_dir))


def _q_skipgram_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec-style filtered negatives for the walk skip-gram corpus
    (kg_training.skipgram_negatives over walk_skipgrams)."""
    from pyspark.storagelevel import StorageLevel

    from palladian_spark.graph import random_walks
    from palladian_spark.operators.kg_training import (
        skipgram_negatives, walk_skipgrams,
    )
    t = _q_triples(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    e = t.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
    pairs = walk_skipgrams(random_walks(e, walk_len=2, seed=7), window=2)
    return skipgram_negatives(pairs, n_neg=2)


def _q_fact_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truth-maintenance conflicts: pairs of different objects asserted
    for the same (subj, pred) within 30 days of each other, with pair
    counts and the smallest gap (kg_temporal.conflicting_observations)."""
    from palladian_spark.operators.kg_temporal import conflicting_observations
    return conflicting_observations(_kg_observations(spark, sf_dir),
                                    window_seconds=86400 * 30)


def _q_kg_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHACL-lite validation of the constructed KG: per-triple
    domain/range flags vs the induced majority signature + the
    functional-predicate single-object check."""
    from pyspark.storagelevel import StorageLevel

    from palladian_spark.operators.kg_fusion import validate_triples
    # persist: the validator derives four reference views of the same
    # triple table — without it the NER kernel re-runs per branch
    t = _q_triples(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    return validate_triples(t)


def _q_turn_topic_shifts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation lexical segmentation: token-set Jaccard vs the
    previous turn under stable (conv_id, turn_idx) order, boundary where
    the rounded Jaccard drops below 0.2."""
    from palladian_spark.operators.conv_analysis import turn_topic_shifts
    return turn_topic_shifts(_tpch_transcripts(spark, sf_dir),
                             threshold=0.2)


def _q_entity_salience(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf·idf-shaped per-conversation entity importance over the
    observation-level triple stream."""
    from palladian_spark.operators.conv_analysis import entity_salience
    return entity_salience(_q_triples(spark, sf_dir))


def _q_kg_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection: 2 synchronous min-tie-break label-propagation
    rounds over the undirected subj—obj graph (deterministic, replayed
    round-by-round in the oracle)."""
    from palladian_spark.graph import label_propagation
    return label_propagation(
        _q_triples(spark, sf_dir).select(F.col("subj").alias("src"),
                                         F.col("obj").alias("dst")),
        n_iter=2)


def _q_kg_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community quality: Newman modularity terms per label-propagation
    community (graph.modularity) — q_term = L_c/m − (D_c/2m)², summing
    to the assignment's Q."""
    from pyspark.storagelevel import StorageLevel

    from palladian_spark.graph import label_propagation, modularity
    # persist: LPA and the modularity aggregation both consume the edge
    # set — without it the NER kernel re-runs per branch
    e = (_q_triples(spark, sf_dir)
         .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
         .persist(StorageLevel.MEMORY_AND_DISK))
    return modularity(e, label_propagation(e, n_iter=2))


def _q_kg_quotient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community-contracted coarse graph (graph.quotient_graph): every
    undirected entity edge mapped to its label-propagation endpoint
    communities and counted; self-loops carry internal-edge weight."""
    from pyspark.storagelevel import StorageLevel

    from palladian_spark.graph import label_propagation, quotient_graph
    e = (_q_triples(spark, sf_dir)
         .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
         .persist(StorageLevel.MEMORY_AND_DISK))
    return quotient_graph(e, label_propagation(e, n_iter=2))


def _q_kg_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG maintenance diff: the constructed KG restricted to turns ≤ 3
    (the 'previous snapshot') vs the full KG — added/changed/unchanged
    edges with observation-evidence counts on both sides."""
    from pyspark.storagelevel import StorageLevel

    from palladian_spark.graph import kg_snapshot_diff
    # persist: both diff sides are views of the same triple table —
    # without it the NER kernel runs twice
    t = _q_triples(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    return kg_snapshot_diff(t.where(F.col("turn_idx") <= 3), t)


def _q_kg_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row structural summary of the constructed KG (node/edge/
    predicate counts, degree extremes, average out-degree)."""
    from palladian_spark.graph import kg_summary
    return kg_summary(_q_triples(spark, sf_dir))


def _q_resolve_pronouns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coreference-lite: a turn-leading pronoun per turn, resolved to the
    nearest PRECEDING type-compatible mention under stable (turn_idx,
    start) order — cross-turn by construction (the pronoun site sorts
    before the same turn's own mentions).  The oracle derives the
    expected antecedent analytically (previous turn's PER mention), not
    by replaying the window."""
    from palladian_spark.operators.coref import resolve_pronouns
    from palladian_spark.operators.mentions import extract_candidates
    tr = _tpch_transcripts(spark, sf_dir)
    typed = _tpch_entity_dict(spark, sf_dir).select(
        F.col("surface").alias("value"), F.col("concept").alias("tag"))
    mentions = (extract_candidates(tr)
                .select("conv_id", "turn_idx", "start", "value")
                .join(F.broadcast(typed), "value"))
    pronouns = (tr.select("conv_id", "turn_idx").distinct()
                .select("conv_id", "turn_idx", F.lit(0).alias("start"),
                        F.lit("he").alias("pronoun")))
    return (resolve_pronouns(mentions, pronouns)
            .select("conv_id", "turn_idx", "pronoun", "antecedent",
                    "ant_turn"))


def _q_canonicalize_surfaces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end surface canonicalization (north-rule 'canonicalization'
    composed): distinct surfaces + freq → within-block char-3-gram Dice
    pairs (banded) → large-star/small-star components → representative
    by (max freq, min surface).  One oracle covers the whole composition
    including the recursive closure."""
    from palladian_spark.canonicalize import canonicalize_surfaces
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    mentions = part.select("p_brand", F.lower("p_name").alias("surface"))
    return canonicalize_surfaces(mentions, text_col="surface",
                                 block_cols=["p_brand"], threshold=0.6)


def _q_asof_join_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (union + one per-key window sweep, NOT a join —
    linear on hot keys): every non-signup event gains the value and ts of
    the user's latest signup at-or-before it."""
    from palladian_spark.operators.temporal import asof_join
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    states = (ev.where(F.col("event_type") == "signup")
              .groupBy("user_id", "ts")
              .agg(F.max("value").alias("plan_value")))
    probes = (ev.where(F.col("event_type") != "signup")
              .select("event_id", "user_id", "ts", "event_type"))
    return (asof_join(probes, states, on=["user_id"])
            .select("event_id", "user_id", "ts", "event_type",
                    "plan_value", "asof_ts"))


def _q_interval_join_incidents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join with time-bin blocking (equi-join on
    (user, hour-bin) + containment residual; each pair meets once): which
    events fall inside a 6-hour incident window opened by each error."""
    from palladian_spark.operators.temporal import interval_join
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    intervals = (ev.where(F.col("event_type") == "error")
                 .select(F.col("event_id").alias("incident_id"), "user_id",
                         F.col("ts").alias("start"),
                         (F.col("ts") + F.expr("INTERVAL 6 HOURS"))
                         .alias("end")))
    points = (ev.where(F.col("event_type") != "error")
              .select("event_id", "user_id", "ts", "event_type"))
    return (interval_join(points, intervals, on=["user_id"],
                          bin_seconds=3600)
            .select("incident_id", "event_id", "user_id", "ts",
                    "event_type"))


def _q_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution continuous-aggregate cascade (5m → 1h → 1d), each
    coarser level re-aggregating the finer level's decimal partials — one
    raw scan total, exactly equal to direct group-bys at every level."""
    from palladian_spark.operators.temporal import hypertable_rollup
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return hypertable_rollup(
        ev, resolutions=("5 minutes", "1 hour", "1 day"))


def _q_gazetteer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DictionaryTagger gazetteer scan (DictionaryTagger.java:24-69),
    inverted to tokenize-once + broadcast n-gram join (SURVEY.md §2.3).
    Turns deduped first (de-nesting groups per (conv, turn))."""
    from pyspark.sql import Window
    from palladian_spark.operators.mentions import dictionary_tag_df
    t = _tpch_transcripts(spark, sf_dir)
    w = Window.partitionBy("conv_id", "turn_idx").orderBy("text")
    t = (t.withColumn("_rn", F.row_number().over(w))
         .where(F.col("_rn") == 1).drop("_rn"))
    hits = dictionary_tag_df(
        t, _tpch_entity_dict(spark, sf_dir).select("surface", "concept"))
    return hits.select("conv_id", "turn_idx",
                       F.col("start").alias("m_start"),
                       F.col("end").alias("m_end"), "value", "tag")


def _q_pos_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule POS tagging (AbstractPosTagger shape, SURVEY.md §2.7): real
    tokenizer offsets + one Catalyst CASE chain for the tags."""
    from palladian_spark.operators.pos_df import pos_tag_df
    return pos_tag_df(_tpch_transcripts(spark, sf_dir)) \
        .select("conv_id", "turn_idx", "tok_idx", "tok_start", "token", "pos")


def _q_pos_tag_clf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniversalClassifier POS tagging (PalladianPosTagger.java:63-77,
    151-168 parity): char-1..7-gram TEXT classifier + nominal-feature
    Bayes over the bundled weighted corpus slice, summed and argmaxed per
    token.  The oracle replicates the ENTIRE classifier algebra
    relationally in DuckDB (grams, feature counts, laplace log-space
    Bayes, log-inversion normalization, combination) over the same
    corpus."""
    from palladian_spark.operators.pos_df import universal_pos_tag_df
    return universal_pos_tag_df(_tpch_transcripts(spark, sf_dir)) \
        .select("conv_id", "turn_idx", "tok_idx", "tok_start", "token", "pos")


def _q_np_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NP chunking over POS tags (PhraseChunker.java:11-25 interface) as
    gaps-and-islands.  Turns are deduped first (duplicate (conv, turn)
    keys would interleave token windows)."""
    from pyspark.sql import Window
    from palladian_spark.operators.pos_df import np_chunks_df, pos_tag_df
    t = _tpch_transcripts(spark, sf_dir)
    w = Window.partitionBy("conv_id", "turn_idx").orderBy("text")
    t = (t.withColumn("_rn", F.row_number().over(w))
         .where(F.col("_rn") == 1).drop("_rn"))
    return np_chunks_df(pos_tag_df(t)).select(
        "conv_id", "turn_idx", "chunk_start", "chunk_end", "phrase",
        "chunk_tag")


def _dedup_turns(t: DataFrame) -> DataFrame:
    """Deterministic turn dedup (duplicate (conv, turn) keys exist in the
    derived transcripts by construction)."""
    from pyspark.sql import Window
    w = Window.partitionBy("conv_id", "turn_idx").orderBy("text")
    return (t.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1).drop("_rn"))


def _q_context_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """buildContextDictionary (PalladianNer.java:894-906): char-5-gram →
    tag counts over each mention's ±40-char trimmed context — join +
    JVM slicing + gram explode + hash agg.  The oracle reconstructs every
    context string analytically from the template and replays the gram
    count in SQL."""
    from palladian_spark.ner.train_df import build_context_dictionary_df
    from palladian_spark.operators.mentions import extract_mentions
    t = _dedup_turns(_tpch_transcripts(spark, sf_dir))
    mentions = extract_mentions(t, _tpch_model(spark, sf_dir))
    return build_context_dictionary_df(t, mentions) \
        .select("term", "category", "n")


def _q_left_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """buildLeftContexts (PalladianNer.java:860-892): cumulative 1..3-word
    windows left of each mention (digits → §), kept when
    uppercase-starting, outside ≥ 2 and inside/outside < 1.  Digit
    masking collapses every key of the same digit-length onto one
    boundary context, which the oracle states analytically."""
    from palladian_spark.ner.train_df import build_left_contexts_df
    from palladian_spark.operators.mentions import extract_mentions
    t = _dedup_turns(_tpch_transcripts(spark, sf_dir))
    mentions = extract_mentions(t, _tpch_model(spark, sf_dir))
    return build_left_contexts_df(t, mentions) \
        .select("left_context", "n_outside", "n_inside")


def _q_evaluation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUC/exact evaluation taxonomy (NamedEntityRecognizer.java:98-184)
    end-to-end: the pipeline's mentions scored against an analytic gold
    with PLANTED disagreements — customer span correct (CORRECT),
    supplier span typed LOC (ERROR3), a 'works' verb span no prediction
    overlaps (ERROR2), nation predictions with no gold (ERROR1).  The
    oracle states each counter as the deduped turn count."""
    from palladian_spark.evaluation import evaluation_counts_df
    from palladian_spark.operators.mentions import extract_mentions
    from pyspark.sql import Window
    t = _dedup_turns(_tpch_transcripts(spark, sf_dir))
    pred = extract_mentions(t, _tpch_model(spark, sf_dir))

    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    base = (lineitem
            .join(orders, lineitem.l_orderkey == orders.o_orderkey)
            .join(F.broadcast(supplier),
                  lineitem.l_suppkey == supplier.s_suppkey))
    cust = F.concat(F.lit("Customer C"), F.col("o_custkey").cast("string"))
    supp = F.concat(F.lit("Supplier S"), F.col("s_suppkey").cast("string"))
    nat = F.concat(F.lit("Nation N"), F.col("s_nationkey").cast("string"))
    text = F.concat(cust, F.lit(" works for "), supp, F.lit(" in "), nat,
                    F.lit("."))
    rows = base.select(
        F.concat(F.lit("conv-"), F.col("l_orderkey").cast("string"))
        .alias("conv_id"),
        F.col("l_linenumber").cast("int").alias("turn_idx"),
        text.alias("text"), cust.alias("cust"), supp.alias("supp"))
    w = Window.partitionBy("conv_id", "turn_idx").orderBy("text")
    dedup = (rows.withColumn("_rn", F.row_number().over(w))
             .where(F.col("_rn") == 1).drop("_rn"))
    lc = F.length("cust")
    gold = (dedup.select(
        "conv_id", "turn_idx",
        F.lit(0).cast("int").alias("start"),
        lc.cast("int").alias("end"),
        F.col("cust").alias("value"), F.lit("PER").alias("tag"))
        .unionByName(dedup.select(
            "conv_id", "turn_idx",
            (lc + 11).cast("int").alias("start"),
            (lc + 11 + F.length("supp")).cast("int").alias("end"),
            F.col("supp").alias("value"), F.lit("LOC").alias("tag")))
        .unionByName(dedup.select(
            "conv_id", "turn_idx",
            (lc + 1).cast("int").alias("start"),
            (lc + 6).cast("int").alias("end"),
            F.lit("works").alias("value"), F.lit("VERB").alias("tag"))))
    return evaluation_counts_df(
        pred.select("conv_id", "turn_idx", "start", "end", "value", "tag"),
        gold).select("category", "n")


def _q_conversation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation profile over the full input_hint schema
    (role/ts/text): one hash agg on conv_id."""
    from palladian_spark.operators.events import conversation_stats
    return conversation_stats(_tpch_transcripts(spark, sf_dir)) \
        .select("conv_id", "n_turns", "n_user", "n_assistant",
                F.col("first_ts").cast("date").alias("first_ts"),
                F.col("last_ts").cast("date").alias("last_ts"),
                "avg_chars")


def _q_real_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """getSentences(onlyRealSentences=true) (Tokenizer.java:316-342) over
    turns with one real sentence, one too-short terminal ('Go!') and one
    unterminated fragment — only the real one survives, which the oracle
    states analytically."""
    from palladian_spark.operators.mentions import split_sentences_df
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    k = F.col("o_orderkey").cast("string")
    text = F.concat(F.lit("Shipped order O"), k,
                    F.lit(" to the depot on time. Go! trailing bit"))
    transcripts = orders.select(
        F.concat(F.lit("r"), k).alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"), text.alias("text"))
    return split_sentences_df(transcripts, only_real_sentences=True) \
        .select("conv_id", "turn_idx", "sent_idx", "sent_start", "sentence")


def _q_word_skipgrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word 1..3-grams + skip-grams (NGramWrapperIterator /
    SkipGramWrapperIterator, SURVEY.md §2.2) as lead() windows over the
    token table — one shuffle, codegen throughout.  Turns deduped first
    (duplicate (conv, turn) keys would interleave the windows)."""
    from pyspark.sql import Window
    from palladian_spark.operators.mentions import (
        word_ngrams_df, word_tokens_df)
    t = _tpch_transcripts(spark, sf_dir)
    w = Window.partitionBy("conv_id", "turn_idx").orderBy("text")
    t = (t.withColumn("_rn", F.row_number().over(w))
         .where(F.col("_rn") == 1).drop("_rn"))
    return word_ngrams_df(word_tokens_df(t), max_n=3, skip_grams=True) \
        .select("conv_id", "turn_idx", "tok_idx", "n", "kind", "gram")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- ORDERING CONTRACT (round 5) ------------------------------
        # The driver verifies only the FIRST 50 entries per round.
        # Positions 1-28: the entries that have never had a driver-green
        # row in rounds 1-4 (session-verified only) lead so the round-5
        # window finally covers them — incl. triple_pr_gate (the
        # north-rule P/R gate), ann_lsh_top1/ann_ivf_top1 (4 rounds
        # unsampled) and quantize_embeddings (r3 red row, fixed in r4).
        # New round-5 queries go AFTER these 28 (<=22 fit in the window).
        "kg_summary": _q_kg_summary,
        "fact_transitions": _q_fact_transitions,
        "entity_timeline": _q_entity_timeline,
        "schema_induction": _q_schema_induction,
        "export_ntriples": _q_export_ntriples,
        "canonicalize_surfaces": _q_canonicalize_surfaces,
        "asof_join_state": _q_asof_join_state,
        "interval_join_incidents": _q_interval_join_incidents,
        "hypertable_rollup": _q_hypertable_rollup,
        "ann_lsh_top1": _q_ann_lsh_top1,
        "ann_ivf_top1": _q_ann_ivf_top1,
        "repetition_scores": _q_repetition_scores,
        "scrub_pii": _q_scrub_pii,
        "kg_triangles": _q_kg_triangles,
        "dedup_incremental": _q_dedup_incremental,
        "curate_corpus_full": _q_curate_corpus_full,
        "simhash_neardup": _q_simhash_neardup,
        "curation_report": _q_curation_report,
        "kg_edge_provenance": _q_kg_edge_provenance,
        "kg_pagerank_weighted": _q_kg_pagerank_weighted,
        "corpus_stats": _q_corpus_stats,
        "quality_outliers": _q_quality_outliers,
        "kg_link_prediction": _q_kg_link_prediction,
        "quantize_embeddings": _q_quantize_embeddings,
        "conversation_stats": _q_conversation_stats,
        "dedup_components_star": _q_dedup_components_star,
        "triple_pr_gate": _q_triple_pr_gate,
        "decontamination_spans": _q_decontamination_spans,
        # --- new round-5 queries (window positions 29-50) -------------
        "kg_triangles_incremental": _q_kg_triangles_incremental,
        # --- previously driver-green (rounds 1-4) ---------------------
        "kg_as_of": _q_kg_as_of,
        "kg_edges_decayed": _q_kg_edges_decayed,
        "kg_top_facts": _q_kg_top_facts,
        "kg_degrees_incremental": _q_kg_degrees_incremental,
        "kg_inverse_relations": _q_kg_inverse_relations,
        "kg_neighborhood_features": _q_kg_neighborhood_features,
        "kg_rule_mining": _q_kg_rule_mining,
        "kg_type_inference": _q_kg_type_inference,
        "kg_truth_decayed": _q_kg_truth_decayed,
        "kg_ego": _q_kg_ego,
        "kg_pagerank_warm": _q_kg_pagerank_warm,
        "dedup_components_incremental": _q_dedup_components_incremental,
        "cooccurrence_pmi": _q_cooccurrence_pmi,
        "er_match_pairs": _q_er_match_pairs,
        "er_clusters": _q_er_clusters,
        "er_stable_ids": _q_er_stable_ids,
        "kg_closure": _q_kg_closure,
        "kg_modularity": _q_kg_modularity,
        "kg_quotient": _q_kg_quotient,
        "kg_kcore": _q_kg_kcore,
        "kg_walks": _q_kg_walks,
        "walk_skipgrams": _q_walk_skipgrams,
        "kg_walks_biased": _q_kg_walks_biased,
        "fact_conflicts": _q_fact_conflicts,
        "conv_graph_stats": _q_conv_graph_stats,
        "kg_role_provenance": _q_kg_role_provenance,
        "turn_latency": _q_turn_latency,
        "kg_motif_paths": _q_kg_motif_paths,
        "extraction_coverage": _q_extraction_coverage,
        "skipgram_negatives": _q_skipgram_negatives,
        "kg_ktruss": _q_kg_ktruss,
        "kg_negative_samples": _q_kg_negative_samples,
        "kg_entity_split": _q_kg_entity_split,
        "kg_infer_triples": _q_kg_infer_triples,
        "kg_relation_cardinality": _q_kg_relation_cardinality,
        "kg_resolve_facts": _q_kg_resolve_facts,
        "kg_encode_triples": _q_kg_encode_triples,
        "kg_bernoulli_negatives": _q_kg_bernoulli_negatives,
        "resolve_pronouns": _q_resolve_pronouns,
        "kg_hits": _q_kg_hits,
        "kg_communities": _q_kg_communities,
        "kg_validate": _q_kg_validate,
        "kg_bfs": _q_kg_bfs,
        "chunk_documents": _q_chunk_documents,
        "kg_ppr": _q_kg_ppr,
        "tool_usage_stats": _q_tool_usage,
        "conversation_windows": _q_conversation_windows,
        "turn_topic_shifts": _q_turn_topic_shifts,
        "entity_salience": _q_entity_salience,
        "kg_snapshot_diff": _q_kg_snapshot_diff,
        "cooccurrence_document": _q_cooccurrence_document,
        "evaluation_counts": _q_evaluation_counts,
        "event_windows": _q_event_windows,
        "frame_samples": _q_frame_samples,
        "left_contexts": _q_left_contexts,
        "real_sentences": _q_real_sentences,
        "sessionize_events": _q_sessionize,
        "user_activity": _q_user_activity,
        "candidates_stringtagger": _q_candidates,
        "kg_triples": _q_triples,
        "kg_degrees": _q_kg_degrees,
        "kg_pagerank": _q_kg_pagerank,
        "dedup_components": _q_dedup_components,
        "tfidf_keywords": _q_tfidf_keywords,
        "bm25_scores": _q_bm25,
        "curate_corpus": _q_curate_corpus,
        "kmeans_assign": _q_kmeans_assign,
        "stratified_sample": _q_stratified_sample,
        "lm_perplexity": _q_lm_perplexity,
        "decontamination": _q_decontamination,
        "link_entities": _q_link_entities,
        "remove_nested": _q_remove_nested,
        "combine_adjacent": _q_combine_adjacent,
        "dedup_exact": _q_dedup_exact,
        "doc_token_stats": _q_doc_token_stats,
        "doc_fingerprint": _q_doc_fingerprint,
        "similarity_levenshtein": _q_similarity_levenshtein,
        "similarity_ngram_dice": _q_ngram_dice,
        "minhash_signatures": _q_minhash_signatures,
        "ann_cosine_top1": _q_ann_top1,
        "word_tokenize": _q_word_tokenize,
        "sentence_split": _q_sentence_split,
        "dict_model_train": _q_dict_train,
        "classify_default": _q_classify_default,
        "classify_bayes": _q_classify_bayes,
        "entity_dict_train": _q_entity_dict_train,
        "case_dictionary": _q_case_dictionary,
        "mine_patterns": _q_mine_patterns,
        "cooccurrence": _q_cooccurrence,
        "lsh_dedup_pairs": _q_lsh_dedup,
        "simhash": _q_simhash,
        "ngram_jaccard_neardup": _q_ngram_jaccard_neardup,
        "embedding_neardup": _q_embedding_neardup,
        "lang_id": _q_lang_id,
        "quality_scores": _q_quality,
        "bpe_token_counts": _q_bpe_tokens,
        "rolling_fingerprints": _q_rolling_fingerprints,
        "multimodal_meta": _q_multimodal_meta,
        "pos_tag": _q_pos_tag,
        "pos_tag_clf": _q_pos_tag_clf,
        "np_chunks": _q_np_chunks,
        "gazetteer_scan": _q_gazetteer,
        "complete_retrain_removed": _q_complete_retrain,
        "dates_tagged": _q_dates_tagged,
        "dates_normalized": _q_dates_normalized,
        "word_skipgrams": _q_word_skipgrams,
        "context_dictionary": _q_context_dictionary,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

# ER oracle: per-record profile (normalized name, first-token block,
# '##'-padded distinct char-3-grams) and the raw blocked pair scores —
# mirrors operators/entity_resolution._profiles / blocked_match_pairs
# (similarities rounded only at output, matching the Spark column order).
_ER_PAIRS_CTES = """er_g AS (
  SELECT p_partkey AS id,
         lower(trim(regexp_replace(p_name, '\\s+', ' ', 'g'))) AS lname
  FROM part
), er_gg AS (
  SELECT id, lname, split_part(lname, ' ', 1) AS blk,
         list_distinct([substr('##' || lname || '##', i, 3)
                        for i in range(1, length(lname) + 3)]) AS grams
  FROM er_g
), er_p AS (
  SELECT a.id AS a_id, b.id AS b_id,
         1.0 - levenshtein(a.lname, b.lname)::DOUBLE
             / greatest(length(a.lname), length(b.lname)) AS lev,
         CASE WHEN a.lname = b.lname THEN 1.0
              ELSE 2.0 * len(list_intersect(a.grams, b.grams))
                   / (len(a.grams) + len(b.grams)) END AS dice
  FROM er_gg a JOIN er_gg b ON a.blk = b.blk AND a.id < b.id
)"""

_ER_PAIRS_SQL = "WITH " + _ER_PAIRS_CTES + "\n"

#: body of the transcript-derivation CTE (no WITH keyword, so recursive
#: oracles can prepend WITH RECURSIVE)
_BASE_BODY = """base AS (
  SELECT 'conv-' || CAST(l.l_orderkey AS VARCHAR) AS conv_id,
         CAST(l.l_linenumber AS INT) AS turn_idx,
         'Customer C' || CAST(o.o_custkey AS VARCHAR) AS cust,
         'Supplier S' || CAST(l.l_suppkey AS VARCHAR) AS supp,
         'Nation N'  || CAST(s.s_nationkey AS VARCHAR) AS nat
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey  = s.s_suppkey
)
"""

_BASE_CTE = "\nWITH " + _BASE_BODY

#: replay of graph.label_propagation(n_iter=2) over the entity graph —
#: final labels exposed as `lpa`, the symmetric neighbor set as `nbr`,
#: the distinct directed edge set as `e` (shared by the communities /
#: modularity / quotient oracles).
_LPA_CTES = _BASE_CTE + """
, t AS (SELECT DISTINCT cust AS subj, 'works_for' AS pred, supp AS obj
        FROM base
        UNION SELECT DISTINCT supp, 'located_in', nat FROM base),
e AS (SELECT DISTINCT subj AS u, obj AS v FROM t WHERE subj <> obj),
nbr AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
v1 AS (SELECT u AS node, v AS label, count(*) AS n
       FROM nbr GROUP BY u, v),
l1 AS (SELECT node, label FROM (
         SELECT node, label, row_number() OVER (
           PARTITION BY node ORDER BY n DESC, label ASC) AS rn FROM v1)
       WHERE rn = 1),
v2 AS (SELECT nbr.u AS node, l1.label, count(*) AS n
       FROM nbr JOIN l1 ON nbr.v = l1.node GROUP BY 1, 2),
lpa AS (SELECT node, label FROM (
          SELECT node, label, row_number() OVER (
            PARTITION BY node ORDER BY n DESC, label ASC) AS rn FROM v2)
        WHERE rn = 1)
"""

#: _BASE_CTE plus per-turn timestamps and the deduplicated,
#: observation-level triple stream (triples × distinct turn timestamps —
#: duplicate (conv_id, turn_idx) transcript keys carry several ts by
#: construction, each a distinct observation; mirrors _kg_observations).
_TS_BASE_CTE = """
WITH base AS (
  SELECT 'conv-' || CAST(l.l_orderkey AS VARCHAR) AS conv_id,
         CAST(l.l_linenumber AS INT) AS turn_idx,
         'Customer C' || CAST(o.o_custkey AS VARCHAR) AS cust,
         'Supplier S' || CAST(l.l_suppkey AS VARCHAR) AS supp,
         'Nation N'  || CAST(s.s_nationkey AS VARCHAR) AS nat,
         l.l_shipdate AS ts
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey  = s.s_suppkey
),
tr AS (SELECT DISTINCT conv_id, turn_idx, cust AS subj,
              'works_for' AS pred, supp AS obj
       FROM base
       UNION SELECT DISTINCT conv_id, turn_idx, supp, 'located_in', nat
       FROM base),
tst AS (SELECT DISTINCT conv_id, turn_idx, ts FROM base),
obs AS (SELECT DISTINCT subj, pred, obj, ts, tr.conv_id, tr.turn_idx
        FROM tr JOIN tst USING (conv_id, turn_idx)),
"""


def _pos_clf_feature_exprs(wordcol: str) -> list[tuple[str, str]]:
    """The 12 universal_features as DuckDB expressions — MUST stay in
    lockstep with textproc.pos.universal_features (equivalence-tested in
    tests/test_pos_universal.py)."""
    nw = "'one','two','three','four','five','six','seven','eight','nine','ten','eleven','twelve'"
    return [
        ("startsUppercase",
         f"CASE WHEN regexp_matches({wordcol}, '^[A-Z]') THEN 'true' ELSE 'false' END"),
        ("length1", f"CASE WHEN len({wordcol}) = 1 THEN 'true' ELSE 'false' END"),
        ("length2", f"CASE WHEN len({wordcol}) = 2 THEN 'true' ELSE 'false' END"),
        ("length3", f"CASE WHEN len({wordcol}) = 3 THEN 'true' ELSE 'false' END"),
        ("length", f"CAST(len({wordcol}) AS VARCHAR)"),
        ("number",
         f"CASE WHEN regexp_matches({wordcol}, '^[0-9]+([.,][0-9]+)?$') "
         f"OR lower({wordcol}) IN ({nw}) THEN 'true' ELSE 'false' END"),
        ("completelyUppercase",
         f"CASE WHEN regexp_matches({wordcol}, '[A-Z]') "
         f"AND NOT regexp_matches({wordcol}, '[a-z]') THEN 'true' ELSE 'false' END"),
        ("normalizedLength",
         "CAST(len(regexp_replace(" + wordcol
         + ", '[^`''\",.:;*()]', '', 'g')) AS VARCHAR)"),
        ("lastCharacter", f"right({wordcol}, 1)"),
        ("firstCharacter", f"substr({wordcol}, 1, 1)"),
        ("lastTwoCharacters",
         f"CASE WHEN len({wordcol}) > 1 THEN right({wordcol}, 2) ELSE '' END"),
        ("word", wordcol),
    ]


def _pos_clf_oracle_sql() -> str:
    """DuckDB oracle for pos_tag_clf: the full UniversalPosTagger algebra
    (see textproc/pos.py round-2 block) expressed relationally over the
    bundled corpus, applied to the analytic token table of the derived
    transcripts."""
    from palladian_spark.data.pos_corpus import POS_CORPUS_WEIGHTED

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    corpus_values = ",\n  ".join(
        f"({q(w)}, {q(t)}, {wt})" for w, t, wt in POS_CORPUS_WEIGHTED)
    vf_arms = "\nUNION ALL ".join(
        f"SELECT token, '{n}' AS fname, {e} AS fvalue FROM vocab"
        for n, e in _pos_clf_feature_exprs("token"))
    cf_arms = "\nUNION ALL ".join(
        f"SELECT tag, w, '{n}' AS fname, {e} AS fvalue FROM corpus"
        for n, e in _pos_clf_feature_exprs("word"))

    return f"""
WITH corpus(word, tag, w) AS (VALUES
  {corpus_values}
),
cats AS (SELECT tag, CAST(sum(w) AS DOUBLE) AS n_cat FROM corpus GROUP BY 1),
nd AS (SELECT CAST(sum(n_cat) AS DOUBLE) n_docs, CAST(count(*) AS DOUBLE) k
       FROM cats),
cg1 AS (SELECT word, tag, w, unnest(range(1, len(word)+1)) AS i FROM corpus),
cg2 AS (SELECT DISTINCT word, tag, w,
               unnest([substr(lower(word), CAST(i AS INT), CAST(n AS INT))
                       FOR n IN range(1, least(7, len(word)-CAST(i AS INT)+1)+1)])
                 AS term
        FROM cg1),
tdict AS (SELECT term, tag, CAST(sum(w) AS DOUBLE) c FROM cg2 GROUP BY 1, 2),
ttot AS (SELECT term, sum(c) tot FROM tdict GROUP BY 1),
base AS (
  SELECT 'conv-' || CAST(l.l_orderkey AS VARCHAR) AS conv_id,
         CAST(l.l_linenumber AS INT) AS turn_idx,
         'Customer C' || CAST(o.o_custkey AS VARCHAR) AS cust,
         'Supplier S' || CAST(l.l_suppkey AS VARCHAR) AS supp,
         'Nation N'  || CAST(s.s_nationkey AS VARCHAR) AS nat
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey  = s.s_suppkey
),
m AS (SELECT conv_id, turn_idx, cust, supp, nat,
             length(cust) lc, length(supp) ls, length(nat) ln FROM base),
tok AS (
  SELECT conv_id, turn_idx, CAST(0 AS INT) tok_idx, CAST(0 AS INT) tok_start,
         'Customer' AS token FROM m
  UNION ALL SELECT conv_id, turn_idx, 1, 9, substr(cust, 10) FROM m
  UNION ALL SELECT conv_id, turn_idx, 2, lc + 1, 'works' FROM m
  UNION ALL SELECT conv_id, turn_idx, 3, lc + 7, 'for' FROM m
  UNION ALL SELECT conv_id, turn_idx, 4, lc + 11, 'Supplier' FROM m
  UNION ALL SELECT conv_id, turn_idx, 5, lc + 20, substr(supp, 10) FROM m
  UNION ALL SELECT conv_id, turn_idx, 6, lc + ls + 12, 'in' FROM m
  UNION ALL SELECT conv_id, turn_idx, 7, lc + ls + 15, 'Nation' FROM m
  UNION ALL SELECT conv_id, turn_idx, 8, lc + ls + 22, substr(nat, 8) FROM m
  UNION ALL SELECT conv_id, turn_idx, 9, lc + ls + ln + 15, '.' FROM m
),
vocab AS (SELECT DISTINCT token FROM tok),
vg1 AS (SELECT token, unnest(range(1, len(token)+1)) AS i FROM vocab),
vg2 AS (SELECT DISTINCT token,
               unnest([substr(lower(token), CAST(i AS INT), CAST(n AS INT))
                       FOR n IN range(1, least(7, len(token)-CAST(i AS INT)+1)+1)])
                 AS term
        FROM vg1),
tsc AS (SELECT g.token, d.tag, sum((d.c / t.tot) * (d.c / t.tot)) sc
        FROM vg2 g JOIN tdict d ON g.term = d.term
                   JOIN ttot t ON g.term = t.term
        GROUP BY 1, 2),
tst AS (SELECT token, sum(sc) stot FROM tsc GROUP BY 1),
ptext AS (
  SELECT v.token, c.tag,
         CASE WHEN tst.stot IS NULL THEN c.n_cat / nd.n_docs
              ELSE COALESCE(tsc.sc, 0) / tst.stot END AS p_text
  FROM vocab v CROSS JOIN cats c CROSS JOIN nd
  LEFT JOIN tst ON tst.token = v.token
  LEFT JOIN tsc ON tsc.token = v.token AND tsc.tag = c.tag
),
vf AS ({vf_arms}),
cf AS ({cf_arms}),
bdict AS (SELECT fname, fvalue, tag, CAST(sum(w) AS DOUBLE) n
          FROM cf GROUP BY 1, 2, 3),
blp AS (
  SELECT vf.token, c.tag,
         ln(c.n_cat / nd.n_docs)
           + sum(ln((COALESCE(b.n, 0) + 0.00001)
                    / (c.n_cat + 0.00001 * nd.k))) AS lp
  FROM vf CROSS JOIN cats c CROSS JOIN nd
  LEFT JOIN bdict b ON b.fname = vf.fname AND b.fvalue = vf.fvalue
                    AND b.tag = c.tag
  GROUP BY vf.token, c.tag, c.n_cat, nd.n_docs, nd.k
),
btot AS (SELECT token, sum(lp) lt FROM blp GROUP BY 1),
pb AS (SELECT blp.token, blp.tag, 1 - blp.lp / btot.lt AS p_bayes
       FROM blp JOIN btot ON blp.token = btot.token),
comb AS (SELECT pt.token, pt.tag, pt.p_text + pb.p_bayes AS s
         FROM ptext pt JOIN pb ON pt.token = pb.token AND pt.tag = pb.tag),
pick AS (SELECT token, tag,
                row_number() OVER (PARTITION BY token
                                   ORDER BY s DESC, tag ASC) rn
         FROM comb)
SELECT t.conv_id, t.turn_idx, t.tok_idx, t.tok_start, t.token,
       p.tag AS pos
FROM tok t JOIN pick p ON t.token = p.token AND p.rn = 1
"""


_LSH_PAIRS_SQL = """
WITH tok AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
sh AS (
  SELECT doc_id, list_distinct(
           [array_to_string(ts[i:i+2], ' ')
            for i in range(1, greatest(len(ts) - 2, 1) + 1)]) s
  FROM tok
), e AS (SELECT doc_id, unnest(s) shingle FROM sh),
sig AS (
  SELECT doc_id,
    min(('0x' || substr(md5('seed0|' || shingle), 1, 8))::BIGINT) m0,
    min(('0x' || substr(md5('seed1|' || shingle), 1, 8))::BIGINT) m1,
    min(('0x' || substr(md5('seed2|' || shingle), 1, 8))::BIGINT) m2,
    min(('0x' || substr(md5('seed3|' || shingle), 1, 8))::BIGINT) m3,
    min(('0x' || substr(md5('seed4|' || shingle), 1, 8))::BIGINT) m4,
    min(('0x' || substr(md5('seed5|' || shingle), 1, 8))::BIGINT) m5,
    min(('0x' || substr(md5('seed6|' || shingle), 1, 8))::BIGINT) m6,
    min(('0x' || substr(md5('seed7|' || shingle), 1, 8))::BIGINT) m7
  FROM e GROUP BY doc_id
), band AS (
  SELECT doc_id, 0 AS band, m0::VARCHAR || '_' || m1::VARCHAR AS key FROM sig
  UNION ALL SELECT doc_id, 1, m2::VARCHAR || '_' || m3::VARCHAR FROM sig
  UNION ALL SELECT doc_id, 2, m4::VARCHAR || '_' || m5::VARCHAR FROM sig
  UNION ALL SELECT doc_id, 3, m6::VARCHAR || '_' || m7::VARCHAR FROM sig
), cand AS (
  SELECT DISTINCT a.doc_id a_id, b.doc_id b_id
  FROM band a JOIN band b ON a.band = b.band AND a.key = b.key
                         AND a.doc_id < b.doc_id
)
SELECT a_id, b_id,
       round(len(list_intersect(x.s, y.s))::DOUBLE
             / len(list_distinct(list_concat(x.s, y.s))), 6) AS jaccard
FROM cand JOIN sh x ON a_id = x.doc_id JOIN sh y ON b_id = y.doc_id
WHERE round(len(list_intersect(x.s, y.s))::DOUBLE
            / len(list_distinct(list_concat(x.s, y.s))), 6) >= 0.2
"""

# transitive closure over the LSH pair graph → (node, min reachable id);
# verifies BOTH connected-components implementations (min-label
# propagation and large-star/small-star) — they compute the same labels
_CC_ORACLE_SQL = """
WITH RECURSIVE cc_pairs AS (
  SELECT a_id, b_id FROM (""" + _LSH_PAIRS_SQL + """)
), cc_e AS (
  SELECT a_id AS u, b_id AS v FROM cc_pairs
  UNION SELECT b_id, a_id FROM cc_pairs
), cc_nodes AS (SELECT DISTINCT u AS node FROM cc_e),
cc_reach AS (
  SELECT node AS u, node AS v FROM cc_nodes
  UNION
  SELECT r.u, cc_e.v FROM cc_reach r JOIN cc_e ON r.v = cc_e.u
)
SELECT u AS node, min(v) AS component FROM cc_reach GROUP BY u
"""


_ANN_SCORE_RANK = """
scored AS (
  SELECT c.a_id, c.b_id,
         round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                      CAST(eb.embedding AS DOUBLE[])), 4)
           AS cos_sim
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.a_id
  JOIN embeddings eb ON eb.vec_id = c.b_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY a_id
                               ORDER BY cos_sim DESC, b_id ASC) AS rn
  FROM scored
)
SELECT a_id, b_id, cos_sim FROM ranked WHERE rn = 1
"""


def _ann_lsh_oracle() -> str:
    """Full SQL replay of lsh_bucketed_top_k(k=1, n_tables=2, seed=42).

    The hyperplanes are regenerated here from the SAME RandomState(42)
    stable-prefix draw as operators.similarity_search._lsh_planes (dim=64
    is the embeddings-table contract, TESTDATA.md), embedded as literals;
    the plane count is re-derived from N with _auto_planes' formula.  The
    union of per-bucket top-k under the (-rounded cos, b_id) total order
    equals the top-k over the distinct candidate union, so the oracle can
    rank over distinct same-bucket pairs directly.
    """
    import numpy as np

    planes = np.random.RandomState(42).randn(2, 24, 64)
    rows = ",\n".join(
        "  ({t}, {j}, CAST([{c}] AS DOUBLE[]))".format(
            # repr(float(x)), NOT repr(x): numpy 2.x reprs scalars as
            # 'np.float64(...)' (NEP 51), which is not SQL
            t=t, j=j, c=", ".join(repr(float(x)) for x in planes[t, j]))
        for t in range(2) for j in range(24))
    return """
WITH nplanes AS (
  SELECT LEAST(24, GREATEST(2,
         CAST(ceil(log2(GREATEST(count(*), 2) / 4096.0)) AS INT))) AS np
  FROM embeddings
),
planes(tbl, plane, coefs) AS (VALUES
""" + rows + """
),
sig AS (
  SELECT e.vec_id AS id, pl.tbl,
         sum(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        pl.coefs) > 0
                  THEN CAST(1 AS BIGINT) << pl.plane
                  ELSE CAST(0 AS BIGINT) END) AS bucket
  FROM embeddings e
  CROSS JOIN planes pl
  CROSS JOIN nplanes
  WHERE pl.plane < nplanes.np
  GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.id AS a_id, b.id AS b_id
  FROM sig a JOIN sig b ON a.tbl = b.tbl AND a.bucket = b.bucket
                       AND a.id <> b.id
),
""" + _ANN_SCORE_RANK


def _ann_ivf_oracle() -> str:
    """Full SQL replay of ivf_top_k(k=1, n_probe=2, quantizer="sample"):
    centroids = the floor(√N) lowest-id vectors, every vector joins its
    top-1 centroid's posting list, queries probe their top-2 centroids
    (ties by centroid index, matching the stable argsort), exact scoring
    inside probed lists; same union-of-partials reduction as LSH."""
    return """
WITH n AS (SELECT count(*) AS c FROM embeddings),
cents AS (
  SELECT row_number() OVER (ORDER BY vec_id ASC) - 1 AS cidx, embedding
  FROM embeddings CROSS JOIN n
  QUALIFY row_number() OVER (ORDER BY vec_id ASC)
          <= GREATEST(1, LEAST(c, CAST(floor(sqrt(c)) AS BIGINT)))
),
asg AS (
  SELECT e.vec_id AS id, c.cidx,
         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                CAST(c.embedding AS DOUBLE[])) AS s
  FROM embeddings e CROSS JOIN cents c
),
rankedasg AS (
  SELECT id, cidx,
         row_number() OVER (PARTITION BY id ORDER BY s DESC, cidx ASC) AS rn
  FROM asg
),
member AS (SELECT id, cidx FROM rankedasg WHERE rn = 1),
probe  AS (SELECT id, cidx FROM rankedasg WHERE rn <= 2),
cand AS (
  SELECT DISTINCT p.id AS a_id, m.id AS b_id
  FROM probe p JOIN member m ON p.cidx = m.cidx AND p.id <> m.id
),
""" + _ANN_SCORE_RANK


_PAGERANK_ITER = """
{out} AS (
  SELECT nodes.node,
         (1.0 - 0.85) / nn.c + 0.85 * COALESCE(s.con, 0.0) AS r
  FROM nodes CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS node,
           CAST(sum(CAST({prev}.r / outd.d AS DECIMAL(38,18)))
                AS DOUBLE) con
    FROM e JOIN {prev} ON e.src = {prev}.node
           JOIN outd ON e.src = outd.src
    GROUP BY 1) s ON s.node = nodes.node
)"""


_PAGERANK_W_ITER = """
{out} AS (
  SELECT nodes.node,
         (1.0 - 0.85) / nn.c + 0.85 * COALESCE(s.con, 0.0) AS r
  FROM nodes CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS node,
           CAST(sum(CAST({prev}.r * e.w / outw.d AS DECIMAL(38,18)))
                AS DOUBLE) con
    FROM e JOIN {prev} ON e.src = {prev}.node
           JOIN outw ON e.src = outw.src
    GROUP BY 1) s ON s.node = nodes.node
)"""


def _kg_pagerank_weighted_oracle() -> str:
    """Unrolled 3-iteration WEIGHTED PageRank: edge weight = number of
    distinct asserting (conv, turn) occurrences (kg_edges), contribution
    = r·w/W_out — decimal-exact per iteration like the unweighted
    oracle."""
    its = ",".join(
        _PAGERANK_W_ITER.format(out=f"i{k}", prev=("r0" if k == 1
                                                   else f"i{k - 1}"))
        for k in (1, 2, 3))
    return _BASE_CTE + """
, tt AS (SELECT DISTINCT conv_id, turn_idx, cust AS s, supp AS o FROM base
         UNION SELECT DISTINCT conv_id, turn_idx, supp, nat FROM base),
e AS (SELECT s AS src, o AS dst, CAST(count(*) AS DOUBLE) w
      FROM tt GROUP BY 1, 2),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
nn AS (SELECT CAST(count(*) AS DOUBLE) c FROM nodes),
outw AS (SELECT src, CAST(sum(w) AS DOUBLE) d FROM e GROUP BY 1),
r0 AS (SELECT node, 1.0 / nn.c AS r FROM nodes CROSS JOIN nn),
""" + its + """
SELECT node, round(r, 6) AS rank FROM i3
"""


_PPR_ITER = """
{out} AS (
  SELECT p.node, (1.0 - 0.85) * p.pv + 0.85 * COALESCE(s.con, 0.0) AS r
  FROM p
  LEFT JOIN (
    SELECT e.dst AS node,
           CAST(sum(CAST({prev}.r / outd.d AS DECIMAL(38,18)))
                AS DOUBLE) con
    FROM e JOIN {prev} ON e.src = {prev}.node
           JOIN outd ON e.src = outd.src
    GROUP BY 1) s ON s.node = p.node
)"""


def _kg_ppr_oracle() -> str:
    """Unrolled 3-iteration PERSONALIZED PageRank: restart vector = 1.0
    on the deterministic hub seed (max undirected degree, ties by
    greatest node — the kg_bfs seed), per-iteration restart
    (1−d)·p(v); contribution sums replay decimal-exact like the
    unseeded oracle."""
    its = ",".join(
        _PPR_ITER.format(out=f"i{k}", prev=("r0" if k == 1
                                            else f"i{k - 1}"))
        for k in (1, 2, 3))
    return _BASE_CTE + """
, t AS (SELECT DISTINCT cust AS s, supp AS o FROM base
        UNION SELECT DISTINCT supp, nat FROM base),
e AS (SELECT s AS src, o AS dst FROM t),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
outd AS (SELECT src, CAST(count(*) AS DOUBLE) d FROM e GROUP BY 1),
und AS (SELECT src AS u, dst AS v FROM e WHERE src <> dst
        UNION SELECT dst, src FROM e WHERE src <> dst),
deg AS (SELECT u AS node, count(*) AS dg FROM und GROUP BY 1),
seed AS (SELECT node FROM (
           SELECT node, row_number() OVER (ORDER BY dg DESC, node DESC)
             AS rn FROM deg) WHERE rn = 1),
p AS (SELECT nodes.node,
             CASE WHEN seed.node IS NOT NULL THEN 1.0 ELSE 0.0 END AS pv
      FROM nodes LEFT JOIN seed ON nodes.node = seed.node),
r0 AS (SELECT node, pv AS r FROM p),
""" + its + """
SELECT node, round(r, 6) AS rank FROM i3
"""


def _kg_pagerank_oracle() -> str:
    """Unrolled 3-iteration PageRank over the analytic triple edges —
    exact because the engine's per-iteration contribution sums are
    decimal-exact (graph.pagerank), so both engines compute the same
    doubles in the same per-row order."""
    its = ",".join(
        _PAGERANK_ITER.format(out=f"i{k}", prev=("r0" if k == 1
                                                 else f"i{k - 1}"))
        for k in (1, 2, 3))
    return _BASE_CTE + """
, t AS (SELECT DISTINCT cust AS s, supp AS o FROM base
        UNION SELECT DISTINCT supp, nat FROM base),
e AS (SELECT s AS src, o AS dst FROM t),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
nn AS (SELECT CAST(count(*) AS DOUBLE) c FROM nodes),
outd AS (SELECT src, CAST(count(*) AS DOUBLE) d FROM e GROUP BY 1),
r0 AS (SELECT node, 1.0 / nn.c AS r FROM nodes CROSS JOIN nn),
""" + its + """
SELECT node, round(r, 6) AS rank FROM i3
"""


def _kg_pagerank_warm_oracle() -> str:
    """Unrolled 2-iteration PageRank from the degree-proportional init
    (out_degree / |edges|, dangling 1/N) — the warm-start refresh path;
    same decimal-exact iteration machinery as _kg_pagerank_oracle."""
    its = ",".join(
        _PAGERANK_ITER.format(out=f"i{k}", prev=("r0" if k == 1
                                                 else f"i{k - 1}"))
        for k in (1, 2))
    return _BASE_CTE + """
, t AS (SELECT DISTINCT cust AS s, supp AS o FROM base
        UNION SELECT DISTINCT supp, nat FROM base),
e AS (SELECT s AS src, o AS dst FROM t),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
nn AS (SELECT CAST(count(*) AS DOUBLE) c FROM nodes),
mm AS (SELECT CAST(count(*) AS DOUBLE) c FROM e),
outd AS (SELECT src, CAST(count(*) AS DOUBLE) d FROM e GROUP BY 1),
r0 AS (SELECT node, COALESCE(outd.d / mm.c, 1.0 / nn.c) AS r
       FROM nodes CROSS JOIN nn CROSS JOIN mm
       LEFT JOIN outd ON nodes.node = outd.src),
""" + its + """
SELECT node, round(r, 6) AS rank FROM i2
"""


def _kg_kcore_oracle() -> str:
    """Unrolled 3-round k=3 peeling over the analytic undirected edges —
    exact because graph.kcore runs the same fixed round count."""
    rounds = "".join(
        f"""k{i} AS (SELECT u FROM u{i - 1} GROUP BY u HAVING count(*) >= 3),
u{i} AS (SELECT u{i - 1}.u, u{i - 1}.v FROM u{i - 1}
         JOIN k{i} a ON u{i - 1}.u = a.u
         JOIN k{i} b ON u{i - 1}.v = b.u),
"""
        for i in (1, 2, 3))
    return _BASE_CTE + """
, t AS (SELECT DISTINCT cust AS subj, supp AS obj FROM base
        UNION SELECT DISTINCT supp, nat FROM base),
e AS (SELECT DISTINCT subj AS u, obj AS v FROM t WHERE subj <> obj),
u0 AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
""" + rounds + """
fin AS (SELECT u, v FROM u3)
SELECT u AS node, CAST(count(*) AS BIGINT) AS degree FROM fin GROUP BY u
"""


def _kg_walks_oracle() -> str:
    """Replays graph.random_walks exactly: same vocabulary row_numbers,
    same rank-indexed adjacency, same portable LCG mix per step."""
    step_cte = """w{i} AS (SELECT w.walk_id, a.d_id AS cur
  FROM w{p} w JOIN deg d ON w.cur = d.s_id
  JOIN adj a ON a.s_id = w.cur
   AND a.rnk = ((w.cur * 1103515245 + {i} * 12345 + 7) % 2147483647) % d.deg),
"""
    steps = "".join(step_cte.format(i=i, p=i - 1) for i in (1, 2))
    return _BASE_CTE + """
, t AS (SELECT DISTINCT cust AS s, supp AS o FROM base
        UNION SELECT DISTINCT supp, nat FROM base),
e AS (SELECT DISTINCT s, o FROM t WHERE s <> o),
nodes AS (SELECT s AS node FROM e UNION SELECT o FROM e),
vocab AS (SELECT node,
                 CAST(row_number() OVER (ORDER BY node) - 1 AS BIGINT) AS id
          FROM nodes),
adj AS (SELECT vs.id AS s_id, vd.id AS d_id,
               CAST(row_number() OVER (PARTITION BY vs.id ORDER BY vd.id) - 1
                    AS BIGINT) AS rnk
        FROM e JOIN vocab vs ON e.s = vs.node
               JOIN vocab vd ON e.o = vd.node),
deg AS (SELECT s_id, count(*) AS deg FROM adj GROUP BY s_id),
w0 AS (SELECT s_id AS walk_id, s_id AS cur FROM deg),
""" + steps + """
steps AS (SELECT walk_id, 0 AS step, cur FROM w0
          UNION ALL SELECT walk_id, 1, cur FROM w1
          UNION ALL SELECT walk_id, 2, cur FROM w2)
SELECT s.walk_id, CAST(s.step AS INT) AS step, v.node
FROM steps s JOIN vocab v ON s.cur = v.id
"""


def _kg_walks_biased_oracle() -> str:
    """Replays graph.biased_random_walks (p=2/1, q=2/1 → integer weights
    return 2 / common 4 / other 2): step 1 is the uniform first-order
    choice, step 2 the cumulative-weight pick over the candidate fan-out
    with the same LCG mix."""
    return _BASE_CTE + """
, t AS (SELECT DISTINCT cust AS s, supp AS o FROM base
        UNION SELECT DISTINCT supp, nat FROM base),
e AS (SELECT DISTINCT s, o FROM t WHERE s <> o),
nodes AS (SELECT s AS node FROM e UNION SELECT o FROM e),
vocab AS (SELECT node,
                 CAST(row_number() OVER (ORDER BY node) - 1 AS BIGINT) AS id
          FROM nodes),
adj AS (SELECT vs.id AS s_id, vd.id AS d_id,
               CAST(row_number() OVER (PARTITION BY vs.id ORDER BY vd.id) - 1
                    AS BIGINT) AS rnk
        FROM e JOIN vocab vs ON e.s = vs.node
               JOIN vocab vd ON e.o = vd.node),
deg AS (SELECT s_id, count(*) AS deg FROM adj GROUP BY s_id),
w0 AS (SELECT s_id AS walk_id, s_id AS cur FROM deg),
w1 AS (SELECT w.walk_id, w.cur AS prev, a.d_id AS cur
  FROM w0 w JOIN deg d ON w.cur = d.s_id
  JOIN adj a ON a.s_id = w.cur
   AND a.rnk = ((w.cur * 1103515245 + 1 * 12345 + 7) % 2147483647) % d.deg),
cand AS (SELECT w.walk_id, w.prev, w.cur, a.d_id, a.rnk,
                CAST(CASE WHEN a.d_id = w.prev THEN 2
                          WHEN ek.s_id IS NOT NULL THEN 4
                          ELSE 2 END AS BIGINT) AS w
  FROM w1 w JOIN adj a ON a.s_id = w.cur
  LEFT JOIN (SELECT DISTINCT s_id, d_id FROM adj) ek
         ON ek.s_id = w.prev AND ek.d_id = a.d_id),
scored AS (SELECT *,
                  sum(w) OVER (PARTITION BY walk_id ORDER BY rnk
                               ROWS UNBOUNDED PRECEDING) AS cum,
                  sum(w) OVER (PARTITION BY walk_id) AS total,
                  ((cur * 1103515245 + 2 * 12345 + 7) % 2147483647) % (
                    sum(w) OVER (PARTITION BY walk_id)) AS pick
           FROM cand),
w2 AS (SELECT walk_id, d_id AS cur FROM scored
       WHERE cum > pick AND cum - w <= pick),
steps AS (SELECT walk_id, 0 AS step, walk_id AS cur FROM w0
          UNION ALL SELECT walk_id, 1, cur FROM w1
          UNION ALL SELECT walk_id, 2, cur FROM w2)
SELECT s.walk_id, CAST(s.step AS INT) AS step, v.node
FROM steps s JOIN vocab v ON s.cur = v.id
"""


def _scrub_pii_oracle() -> str:
    """Replays pii.scrub_pii byte-for-byte: the patterns are interpolated
    from the module constants (RE2 ∩ Java regex subset), counts taken on
    the original text, replacements chained in the same fixed order.
    DuckDB's regexp_replace needs the explicit 'g' flag (Spark is always
    global)."""
    from palladian_spark.operators.pii import _RULES
    counts = ",\n  ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS INT) AS n_{name}s"
        for name, pat, _ in _RULES)
    red = "text"
    for _, pat, placeholder in _RULES:
        red = f"regexp_replace({red}, '{pat}', '{placeholder}', 'g')"
    return f"SELECT doc_id,\n  {counts},\n  {red} AS redacted\nFROM documents"


def _curate_corpus_oracle() -> str:
    """Composition oracle: the quality gate and exact-dedup window feed
    the SAME LSH pairs SQL (re-pointed at the survivors CTE), then the
    recursive component closure keeps min-id representatives."""
    pairs_on_surv = _LSH_PAIRS_SQL.replace("FROM documents",
                                           "FROM cu_surv1")
    return """
WITH RECURSIVE cu_t AS (
  SELECT doc_id, text, string_split(text, ' ') ts, length(text) nc
  FROM documents
), cu_r AS (
  SELECT doc_id, text,
    len(list_distinct(ts))::DOUBLE / len(ts) dr,
    len(list_filter(ts, x -> x IN ('the','a','and','of')))::DOUBLE
      / len(ts) sr,
    (nc - length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')))::DOUBLE
      / nc nar
  FROM cu_t
), cu_q AS (
  SELECT doc_id, text,
         round(dr * (1.0 - nar)
               * CASE WHEN sr >= 0.05 AND sr <= 0.6
                      THEN 1.0 ELSE 0.5 END, 6) AS quality
  FROM cu_r
), cu_good AS (SELECT * FROM cu_q WHERE quality >= 0.3),
cu_exact AS (
  SELECT doc_id, text, quality,
         row_number() OVER (PARTITION BY md5(text)
                            ORDER BY doc_id) AS rn
  FROM cu_good
), cu_surv1 AS (
  SELECT doc_id, text, quality FROM cu_exact WHERE rn = 1
), cu_pairs AS (
  SELECT a_id, b_id FROM (""" + pairs_on_surv + """)
), cu_e AS (
  SELECT a_id AS u, b_id AS v FROM cu_pairs
  UNION SELECT b_id, a_id FROM cu_pairs
), cu_nodes AS (SELECT DISTINCT u AS node FROM cu_e),
cu_reach AS (
  SELECT node AS u, node AS v FROM cu_nodes
  UNION
  SELECT r.u, cu_e.v FROM cu_reach r JOIN cu_e ON r.v = cu_e.u
), cu_comp AS (
  SELECT u AS node, min(v) AS component FROM cu_reach GROUP BY u
), cu_drop AS (SELECT node FROM cu_comp WHERE node <> component)
SELECT s.doc_id, s.quality
FROM cu_surv1 s LEFT JOIN cu_drop d ON s.doc_id = d.node
WHERE d.node IS NULL
"""


def _curate_full_oracle() -> str:
    """curate_corpus_full composition oracle: the scrub chain is
    interpolated from pii._RULES (byte-parity with the Spark side), the
    quality/repetition algebra mirrors their standalone oracles but over
    the scrubbed text, and the LSH-pairs SQL is re-pointed at the
    survivors CTE exactly as in _curate_corpus_oracle.  All CTEs carry
    the cf_ prefix (DuckDB resolves an embedded subquery's inner CTE
    names against the outer WITH scope on collision)."""
    from palladian_spark.operators.pii import _RULES
    red = "text"
    for _, pat, placeholder in _RULES:
        red = f"regexp_replace({red}, '{pat}', '{placeholder}', 'g')"
    pairs_on_surv = _LSH_PAIRS_SQL.replace("FROM documents",
                                           "FROM cf_surv1")
    return f"""
WITH RECURSIVE cf_scrub AS (
  SELECT doc_id, {red} AS text FROM documents
), cf_t AS (
  SELECT doc_id, text, string_split(text, ' ') ts, length(text) nc
  FROM cf_scrub
), cf_r AS (
  SELECT doc_id, text,
    len(list_distinct(ts))::DOUBLE / len(ts) dr,
    len(list_filter(ts, x -> x IN ('the','a','and','of')))::DOUBLE
      / len(ts) sr,
    (nc - length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')))::DOUBLE
      / nc nar
  FROM cf_t
), cf_q AS (
  SELECT doc_id, text,
         round(dr * (1.0 - nar)
               * CASE WHEN sr >= 0.05 AND sr <= 0.6
                      THEN 1.0 ELSE 0.5 END, 6) AS quality
  FROM cf_r
), cf_tc AS (
  SELECT doc_id, w, count(*) c
  FROM (SELECT doc_id, unnest(ts) w FROM cf_t) GROUP BY 1, 2
), cf_ta AS (
  SELECT doc_id, sum(c) n, max(c) maxt, count(*) nd FROM cf_tc GROUP BY 1
), cf_rep AS (
  SELECT doc_id, round(1.0 - nd::DOUBLE / n, 6) dup_token_frac,
         round(maxt::DOUBLE / n, 6) top_token_frac
  FROM cf_ta
), cf_good AS (
  SELECT q.doc_id, q.text, q.quality, r.dup_token_frac, r.top_token_frac
  FROM cf_q q JOIN cf_rep r USING (doc_id)
  WHERE q.quality >= 0.3 AND r.dup_token_frac <= 0.65
    AND r.top_token_frac <= 0.2
), cf_exact AS (
  SELECT doc_id, text, quality, dup_token_frac, top_token_frac,
         row_number() OVER (PARTITION BY md5(text)
                            ORDER BY doc_id) AS rn
  FROM cf_good
), cf_surv1 AS (
  SELECT doc_id, text, quality, dup_token_frac, top_token_frac
  FROM cf_exact WHERE rn = 1
), cf_pairs AS (
  SELECT a_id, b_id FROM ({pairs_on_surv})
), cf_e AS (
  SELECT a_id AS u, b_id AS v FROM cf_pairs
  UNION SELECT b_id, a_id FROM cf_pairs
), cf_nodes AS (SELECT DISTINCT u AS node FROM cf_e),
cf_reach AS (
  SELECT node AS u, node AS v FROM cf_nodes
  UNION
  SELECT r.u, cf_e.v FROM cf_reach r JOIN cf_e ON r.v = cf_e.u
), cf_comp AS (
  SELECT u AS node, min(v) AS component FROM cf_reach GROUP BY u
), cf_drop AS (SELECT node FROM cf_comp WHERE node <> component)
SELECT s.doc_id, s.quality, s.dup_token_frac, s.top_token_frac
FROM cf_surv1 s LEFT JOIN cf_drop d ON s.doc_id = d.node
WHERE d.node IS NULL
"""


def _curation_report_oracle() -> str:
    """Funnel oracle: the same cf_ construction as _curate_full_oracle,
    but every doc keeps flowing with flags, attributed to the first
    dropping stage, grouped per language."""
    from palladian_spark.operators.pii import _RULES
    red = "text"
    for _, pat, placeholder in _RULES:
        red = f"regexp_replace({red}, '{pat}', '{placeholder}', 'g')"
    pairs_on_surv = _LSH_PAIRS_SQL.replace("FROM documents",
                                           "FROM cf_surv1")
    return f"""
WITH RECURSIVE cf_scrub AS (
  SELECT doc_id, {red} AS text FROM documents
), cf_t AS (
  SELECT doc_id, text, string_split(text, ' ') ts, length(text) nc
  FROM cf_scrub
), cf_r AS (
  SELECT doc_id, text,
    len(list_distinct(ts))::DOUBLE / len(ts) dr,
    len(list_filter(ts, x -> x IN ('the','a','and','of')))::DOUBLE
      / len(ts) sr,
    (nc - length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')))::DOUBLE
      / nc nar
  FROM cf_t
), cf_q AS (
  SELECT doc_id, text,
         round(dr * (1.0 - nar)
               * CASE WHEN sr >= 0.05 AND sr <= 0.6
                      THEN 1.0 ELSE 0.5 END, 6) AS quality
  FROM cf_r
), cf_tc AS (
  SELECT doc_id, w, count(*) c
  FROM (SELECT doc_id, unnest(ts) w FROM cf_t) GROUP BY 1, 2
), cf_ta AS (
  SELECT doc_id, sum(c) n, max(c) maxt, count(*) nd FROM cf_tc GROUP BY 1
), cf_rep AS (
  SELECT doc_id, round(1.0 - nd::DOUBLE / n, 6) dup_token_frac,
         round(maxt::DOUBLE / n, 6) top_token_frac
  FROM cf_ta
), cf_scored AS (
  SELECT q.doc_id, q.text, q.quality, r.dup_token_frac,
         r.top_token_frac, d.lang
  FROM cf_q q JOIN cf_rep r USING (doc_id)
  JOIN documents d USING (doc_id)
), cf_good AS (
  SELECT * FROM cf_scored
  WHERE quality >= 0.3 AND dup_token_frac <= 0.65
    AND top_token_frac <= 0.2
), cf_exact AS (
  SELECT doc_id, text,
         row_number() OVER (PARTITION BY md5(text)
                            ORDER BY doc_id) AS rn
  FROM cf_good
), cf_surv1 AS (
  SELECT doc_id, text FROM cf_exact WHERE rn = 1
), cf_pairs AS (
  SELECT a_id, b_id FROM ({pairs_on_surv})
), cf_e AS (
  SELECT a_id AS u, b_id AS v FROM cf_pairs
  UNION SELECT b_id, a_id FROM cf_pairs
), cf_nodes AS (SELECT DISTINCT u AS node FROM cf_e),
cf_reach AS (
  SELECT node AS u, node AS v FROM cf_nodes
  UNION
  SELECT r.u, cf_e.v FROM cf_reach r JOIN cf_e ON r.v = cf_e.u
), cf_comp AS (
  SELECT u AS node, min(v) AS component FROM cf_reach GROUP BY u
), cf_drop AS (SELECT node FROM cf_comp WHERE node <> component),
cf_status AS (
  SELECT s.lang, s.quality,
         CASE WHEN s.quality < 0.3 THEN 'quality_fail'
              WHEN s.dup_token_frac > 0.65 OR s.top_token_frac > 0.2
                   THEN 'repetition_fail'
              WHEN e.rn > 1 THEN 'exact_dup'
              WHEN dr.node IS NOT NULL THEN 'near_dup'
              ELSE 'kept' END AS st
  FROM cf_scored s
  LEFT JOIN cf_exact e USING (doc_id)
  LEFT JOIN cf_drop dr ON s.doc_id = dr.node
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN st = 'quality_fail' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_quality_fail,
       CAST(sum(CASE WHEN st = 'repetition_fail' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_repetition_fail,
       CAST(sum(CASE WHEN st = 'exact_dup' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_exact_dup,
       CAST(sum(CASE WHEN st = 'near_dup' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_near_dup,
       CAST(sum(CASE WHEN st = 'kept' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       round(CAST(sum(CASE WHEN st = 'kept'
                           THEN CAST(quality AS DECIMAL(38,9)) END)
                  AS DOUBLE)
             / sum(CASE WHEN st = 'kept' THEN 1 ELSE 0 END), 6)
         AS kept_mean_quality
FROM cf_status GROUP BY lang
"""


def oracle_sql() -> dict[str, str]:
    out = {
        "er_match_pairs": _ER_PAIRS_SQL + """
SELECT a_id, b_id, round(lev, 6) AS lev_sim, round(dice, 6) AS dice_sim,
       round(0.5 * lev + 0.5 * dice, 6) AS score
FROM er_p WHERE round(0.5 * lev + 0.5 * dice, 6) >= 0.7
""",
        "er_stable_ids": """
WITH rec AS (SELECT p_partkey AS rec_id, p_name AS name FROM part),
newr AS (SELECT rec_id, min(rec_id) OVER (PARTITION BY name)
                AS canonical_id FROM rec),
oldr AS (SELECT rec_id, min(rec_id) OVER (PARTITION BY name) AS old_id
         FROM rec WHERE rec_id % 2 = 0),
ov AS (SELECT canonical_id, old_id, CAST(count(*) AS BIGINT) n_overlap
       FROM newr JOIN oldr USING (rec_id) GROUP BY 1, 2),
cand AS (SELECT * FROM (
           SELECT *, row_number() OVER (PARTITION BY canonical_id
                       ORDER BY n_overlap DESC, old_id) AS r FROM ov)
         WHERE r = 1),
winners AS (SELECT canonical_id, old_id, n_overlap FROM (
              SELECT *, row_number() OVER (PARTITION BY old_id
                          ORDER BY n_overlap DESC, canonical_id) AS r2
              FROM cand)
            WHERE r2 = 1),
members AS (SELECT canonical_id, CAST(count(*) AS BIGINT) n_members
            FROM newr GROUP BY 1)
SELECT m.canonical_id, COALESCE(w.old_id, m.canonical_id) AS stable_id,
       m.n_members, COALESCE(w.n_overlap, 0) AS n_inherited
FROM members m LEFT JOIN winners w ON m.canonical_id = w.canonical_id
""",
        "er_clusters": "WITH RECURSIVE " + _ER_PAIRS_CTES + """,
er_mp AS (
  SELECT a_id, b_id FROM er_p
  WHERE round(0.5 * lev + 0.5 * dice, 6) >= 0.7
), er_e AS (
  SELECT a_id AS u, b_id AS v FROM er_mp
  UNION SELECT b_id, a_id FROM er_mp
), er_nodes AS (SELECT DISTINCT u AS node FROM er_e),
er_reach AS (
  SELECT node AS u, node AS v FROM er_nodes
  UNION
  SELECT r.u, er_e.v FROM er_reach r JOIN er_e ON r.v = er_e.u
), er_comp AS (
  SELECT u AS node, min(v) AS component FROM er_reach GROUP BY u
), er_lab AS (
  SELECT er_g.id AS rec_id, coalesce(er_comp.component, er_g.id) AS canonical_id
  FROM er_g LEFT JOIN er_comp ON er_g.id = er_comp.node
), er_sz AS (
  SELECT canonical_id, count(*) AS cluster_size
  FROM er_lab GROUP BY canonical_id
)
SELECT er_lab.rec_id, er_lab.canonical_id, er_sz.cluster_size
FROM er_lab JOIN er_sz USING (canonical_id)
""",
        "kg_closure": "WITH RECURSIVE " + _BASE_BODY + """
, t AS (SELECT DISTINCT cust AS subj, 'works_for' AS pred, supp AS obj
        FROM base
        UNION SELECT DISTINCT supp, 'located_in', nat FROM base),
cl_e AS (SELECT DISTINCT subj AS u, obj AS v FROM t WHERE subj <> obj),
cl_reach(u, v, dist) AS (
  SELECT u, v, 1 FROM cl_e
  UNION ALL
  SELECT r.u, cl_e.v, r.dist + 1
  FROM cl_reach r JOIN cl_e ON r.v = cl_e.u
  WHERE r.u <> cl_e.v AND r.dist < 8
)
SELECT u AS src, v AS dst, CAST(min(dist) AS INT) AS dist
FROM cl_reach GROUP BY u, v
""",
        "kg_negative_samples": _BASE_CTE + """
, t AS (SELECT DISTINCT cust AS subj, 'works_for' AS pred, supp AS obj
        FROM base
        UNION SELECT DISTINCT supp, 'located_in', nat FROM base),
ents AS (
  SELECT entity, row_number() OVER (ORDER BY entity) - 1 AS idx
  FROM (SELECT subj AS entity FROM t UNION SELECT obj FROM t)
), cand AS (
  SELECT subj, pred, obj, k,
         ('0x' || substr(md5('kgneg|' || subj || '|' || pred || '|' || obj
                             || '|' || CAST(k AS VARCHAR)), 1, 8))::BIGINT
           % (SELECT count(*) FROM ents) AS idx
  FROM t CROSS JOIN (VALUES (0), (1)) ks(k)
), corr AS (
  SELECT c.subj, c.pred, c.obj, c.k, e.entity AS neg_obj
  FROM cand c JOIN ents e USING (idx)
  WHERE e.entity <> c.obj
)
SELECT corr.subj, corr.pred, corr.obj, CAST(corr.k AS INT) AS k,
       corr.neg_obj
FROM corr LEFT JOIN t ON corr.subj = t.subj AND corr.pred = t.pred
                     AND corr.neg_obj = t.obj
WHERE t.subj IS NULL
""",
        "kg_entity_split": _BASE_CTE + """
, t AS (SELECT DISTINCT cust AS subj, 'works_for' AS pred, supp AS obj
        FROM base
        UNION SELECT DISTINCT supp, 'located_in', nat FROM base)
SELECT subj, pred, obj,
       CASE WHEN ('0x' || substr(md5('kgsplit|' || least(subj, obj) || '|'
                                     || greatest(subj, obj)), 1, 8))::BIGINT
                 % 1000000 < 100000 THEN 'valid'
            WHEN ('0x' || substr(md5('kgsplit|' || least(subj, obj) || '|'
                                     || greatest(subj, obj)), 1, 8))::BIGINT
                 % 1000000 < 200000 THEN 'test'
            ELSE 'train' END AS fold
FROM t
""",
        "kg_infer_triples": _BASE_CTE + """
, t AS (SELECT DISTINCT cust AS subj, 'works_for' AS pred, supp AS obj
        FROM base
        UNION SELECT DISTINCT supp, 'located_in', nat FROM base),
a AS (SELECT subj AS x, obj AS y FROM t WHERE pred = 'works_for'),
b AS (SELECT subj AS y, obj AS z FROM t WHERE pred = 'located_in'),
d AS (SELECT DISTINCT a.x AS subj, 'based_in' AS pred, b.z AS obj,
             'works_for.located_in' AS rule
      FROM a JOIN b USING (y))
SELECT d.subj, d.pred, d.obj, d.rule
FROM d LEFT JOIN t ON d.subj = t.subj AND d.pred = t.pred AND d.obj = t.obj
WHERE t.subj IS NULL
""",
        "kg_relation_cardinality": _BASE_CTE + """
, t AS (SELECT DISTINCT cust AS subj, 'works_for' AS pred, supp AS obj
        FROM base
        UNION SELECT DISTINCT supp, 'located_in', nat FROM base),
prof AS (SELECT pred, count(*) AS n_edges,
                count(DISTINCT subj) AS n_subj,
                count(DISTINCT obj) AS n_obj
         FROM t GROUP BY pred)
SELECT pred, n_edges, n_subj, n_obj,
       CAST(n_edges AS DOUBLE) / n_subj AS tph,
       CAST(n_edges AS DOUBLE) / n_obj AS hpt,
       CASE WHEN CAST(n_edges AS DOUBLE) / n_subj <= 1.5
                 AND CAST(n_edges AS DOUBLE) / n_obj <= 1.5 THEN '1-1'
            WHEN CAST(n_edges AS DOUBLE) / n_subj > 1.5
                 AND CAST(n_edges AS DOUBLE) / n_obj <= 1.5 THEN '1-N'
            WHEN CAST(n_edges AS DOUBLE) / n_subj <= 1.5
                 AND CAST(n_edges AS DOUBLE) / n_obj > 1.5 THEN 'N-1'
            ELSE 'N-N' END AS category
FROM prof
""",
        "kg_resolve_facts": _BASE_CTE + """
, obs AS (SELECT DISTINCT conv_id, turn_idx, cust AS subj,
                 'works_for' AS pred, supp AS obj
          FROM base
          UNION SELECT DISTINCT conv_id, turn_idx, supp, 'located_in', nat
          FROM base),
ev AS (SELECT subj, pred, obj, count(*) AS evidence
       FROM obs GROUP BY 1, 2, 3),
rk AS (SELECT subj, pred, obj, evidence,
              count(*) OVER (PARTITION BY subj, pred) AS n_alternatives,
              CAST(sum(evidence) OVER (PARTITION BY subj, pred) AS BIGINT)
                AS total_evidence,
              row_number() OVER (PARTITION BY subj, pred
                                 ORDER BY evidence DESC, obj ASC) AS rn
       FROM ev)
SELECT subj, pred, obj, evidence, n_alternatives, total_evidence
FROM rk WHERE rn = 1
""",
        "kg_encode_triples": _BASE_CTE + """
, t AS (SELECT DISTINCT cust AS subj, 'works_for' AS pred, supp AS obj
        FROM base
        UNION SELECT DISTINCT supp, 'located_in', nat FROM base),
ents AS (SELECT entity, row_number() OVER (ORDER BY entity) - 1 AS idx
         FROM (SELECT subj AS entity FROM t UNION SELECT obj FROM t)),
preds AS (SELECT pred, row_number() OVER (ORDER BY pred) - 1 AS p_idx
          FROM (SELECT DISTINCT pred FROM t))
SELECT CAST(es.idx AS BIGINT) AS s_idx, CAST(p.p_idx AS BIGINT) AS p_idx,
       CAST(eo.idx AS BIGINT) AS o_idx
FROM t JOIN ents es ON t.subj = es.entity
       JOIN preds p ON t.pred = p.pred
       JOIN ents eo ON t.obj = eo.entity
""",
        "kg_bernoulli_negatives": _BASE_CTE + """
, t AS (SELECT DISTINCT cust AS subj, 'works_for' AS pred, supp AS obj
        FROM base
        UNION SELECT DISTINCT supp, 'located_in', nat FROM base),
ents AS (SELECT entity, row_number() OVER (ORDER BY entity) - 1 AS idx
         FROM (SELECT subj AS entity FROM t UNION SELECT obj FROM t)),
card AS (SELECT pred, count(DISTINCT subj) AS n_subj,
                count(DISTINCT obj) AS n_obj
         FROM t GROUP BY pred),
cand AS (
  SELECT t.subj, t.pred, t.obj, k,
         CASE WHEN ('0x' || substr(md5('kgbern|side|' || t.subj || '|'
                                       || t.pred || '|' || t.obj || '|'
                                       || CAST(k AS VARCHAR)), 1, 8))::BIGINT
                   % (c.n_subj + c.n_obj) < c.n_obj
              THEN 'head' ELSE 'tail' END AS side,
         ('0x' || substr(md5('kgbern|' || t.subj || '|' || t.pred || '|'
                             || t.obj || '|'
                             || CAST(k AS VARCHAR)), 1, 8))::BIGINT
           % (SELECT count(*) FROM ents) AS idx
  FROM t JOIN card c USING (pred) CROSS JOIN (VALUES (0), (1)) ks(k)
), corr AS (
  SELECT c.subj, c.pred, c.obj, c.k, c.side,
         CASE WHEN c.side = 'head' THEN e.entity ELSE c.subj END AS neg_subj,
         CASE WHEN c.side = 'tail' THEN e.entity ELSE c.obj END AS neg_obj
  FROM cand c JOIN ents e USING (idx)
), flt AS (SELECT * FROM corr WHERE neg_subj <> subj OR neg_obj <> obj)
SELECT f.subj, f.pred, f.obj, CAST(f.k AS INT) AS k, f.side,
       f.neg_subj, f.neg_obj
FROM flt f LEFT JOIN t ON f.neg_subj = t.subj AND f.pred = t.pred
                      AND f.neg_obj = t.obj
WHERE t.subj IS NULL
""",
        "conversation_windows": _BASE_CTE + """
, tt AS (SELECT conv_id, turn_idx,
                min(cust || ' works for ' || supp || ' in ' || nat
                    || '.') AS text
         FROM base GROUP BY 1, 2),
r AS (SELECT conv_id, turn_idx, text,
             CAST((row_number() OVER (PARTITION BY conv_id
                                      ORDER BY turn_idx) - 1) // 4
                  AS INT) AS window_idx
      FROM tt)
SELECT conv_id, window_idx, count(*) AS n_turns,
       min(turn_idx) AS first_turn, max(turn_idx) AS last_turn,
       string_agg(text, ' ' ORDER BY turn_idx) AS window_text
FROM r GROUP BY 1, 2
""",
        "tool_usage_stats": _BASE_CTE + """
, tt AS (SELECT conv_id, turn_idx,
                CASE WHEN turn_idx % 3 = 0 THEN 'search'
                     WHEN turn_idx % 3 = 2 THEN 'code' END AS tool
         FROM base)
SELECT tool, count(*) AS n_calls,
       count(DISTINCT conv_id) AS n_convs,
       round(CAST(sum(CAST(turn_idx AS BIGINT)) AS DOUBLE) / count(*), 6)
         AS mean_turn_idx
FROM tt WHERE tool IS NOT NULL GROUP BY tool
""",
        "chunk_documents": """
WITH d AS (SELECT doc_id,
                  list_filter(string_split_regex(text, '\\s+'),
                              x -> x <> '') AS toks
           FROM documents),
w AS (SELECT doc_id, toks,
             greatest(CAST(ceil(len(toks) / 48.0) AS INT), 1) AS nw
      FROM d)
SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
       array_to_string(list_slice(toks, ci * 48 + 1, ci * 48 + 64), ' ')
         AS chunk_text,
       CAST(least(greatest(len(toks) - ci * 48, 0), 64) AS INT)
         AS n_tokens
FROM w, unnest(range(nw)) AS u(ci)
""",
        "kg_bfs": _BASE_CTE + """
, t AS (SELECT DISTINCT cust AS subj, 'works_for' AS pred, supp AS obj
        FROM base
        UNION SELECT DISTINCT supp, 'located_in', nat FROM base),
e AS (SELECT DISTINCT subj AS u, obj AS v FROM t WHERE subj <> obj),
nbr AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
deg AS (SELECT u AS node, count(*) AS d FROM nbr GROUP BY u),
seed AS (SELECT node FROM (
           SELECT node, row_number() OVER (ORDER BY d DESC, node DESC)
             AS rn FROM deg) WHERE rn = 1),
d1 AS (SELECT DISTINCT nbr.v AS node
       FROM nbr JOIN seed ON nbr.u = seed.node
       WHERE nbr.v NOT IN (SELECT node FROM seed)),
d2 AS (SELECT DISTINCT nbr.v AS node
       FROM nbr JOIN d1 ON nbr.u = d1.node
       WHERE nbr.v NOT IN (SELECT node FROM seed
                           UNION SELECT node FROM d1))
SELECT node, 0 AS dist FROM seed
UNION ALL SELECT node, 1 FROM d1
UNION ALL SELECT node, 2 FROM d2
""",
        "kg_kcore": _kg_kcore_oracle(),
        "kg_walks": _kg_walks_oracle(),
        "kg_walks_biased": _kg_walks_biased_oracle(),
        # analytically EVERY derived turn yields triples, so the oracle
        # asserts full coverage — any pipeline turn-miss turns this row
        # red (an extraction-completeness gate, not a tautology)
        "extraction_coverage": _BASE_CTE + """
, tt AS (SELECT DISTINCT conv_id, turn_idx FROM base)
SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
       CAST(count(*) AS BIGINT) AS n_covered,
       CAST(1.0 AS DOUBLE) AS coverage
FROM tt GROUP BY 1
""",
        "kg_motif_paths": _BASE_CTE + """
, t AS (SELECT DISTINCT cust AS subj, 'works_for' AS pred, supp AS obj
        FROM base
        UNION SELECT DISTINCT supp, 'located_in', nat FROM base),
wf AS (SELECT DISTINCT subj, obj FROM t WHERE pred = 'works_for'),
li AS (SELECT DISTINCT subj, obj FROM t WHERE pred = 'located_in')
SELECT DISTINCT wf.subj AS a, wf.obj AS b, li.obj AS c
FROM wf JOIN li ON wf.obj = li.subj
""",
        "turn_latency": _TS_BASE_CTE + """
tt AS (SELECT conv_id, turn_idx,
              CASE WHEN turn_idx % 2 = 0 THEN 'assistant'
                   ELSE 'user' END AS role,
              min(ts) AS ts
       FROM base GROUP BY 1, 2),
g AS (SELECT conv_id, role, ts,
             lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx)
               AS pts,
             lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
               AS prole
      FROM tt),
g2 AS (SELECT conv_id,
              CAST(epoch(ts) - epoch(pts) AS BIGINT) AS gap_s,
              prole, role
       FROM g WHERE pts IS NOT NULL)
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_gaps,
       round(avg(gap_s), 3) AS mean_gap_s,
       CAST(max(gap_s) AS BIGINT) AS max_gap_s,
       round(avg(CASE WHEN prole = 'user' AND role = 'assistant'
                      THEN gap_s END), 3) AS mean_response_s
FROM g2 GROUP BY 1
""",
        "kg_role_provenance": _BASE_CTE + """
, t AS (SELECT DISTINCT conv_id, turn_idx, cust AS subj,
               'works_for' AS pred, supp AS obj FROM base
        UNION SELECT DISTINCT conv_id, turn_idx, supp, 'located_in', nat
        FROM base),
r AS (SELECT DISTINCT conv_id, turn_idx,
             CASE WHEN turn_idx % 2 = 0 THEN 'assistant' ELSE 'user' END
               AS role
      FROM base)
SELECT subj, pred, obj,
       CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_user,
       CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_assistant
FROM t JOIN r USING (conv_id, turn_idx)
GROUP BY 1, 2, 3
""",
        "conv_graph_stats": _BASE_CTE + """
, t AS (SELECT DISTINCT conv_id, cust AS subj, supp AS obj FROM base
        UNION SELECT DISTINCT conv_id, supp, nat FROM base),
n AS (SELECT conv_id, CAST(count(DISTINCT node) AS BIGINT) AS n_nodes
      FROM (SELECT conv_id, subj AS node FROM t
            UNION SELECT conv_id, obj FROM t)
      GROUP BY conv_id),
e AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_edges FROM t
      GROUP BY conv_id)
SELECT conv_id, n_nodes, n_edges,
       round(CAST(n_edges AS DOUBLE) / (n_nodes * (n_nodes - 1)), 6)
         AS density
FROM n JOIN e USING (conv_id)
""",
        "walk_skipgrams": """
WITH w AS (SELECT * FROM (""" + _kg_walks_oracle() + """) walks)
SELECT a.node AS center, b.node AS context,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM w a JOIN w b ON a.walk_id = b.walk_id
WHERE a.step <> b.step AND abs(a.step - b.step) <= 2
GROUP BY 1, 2
""",
        "skipgram_negatives": """
WITH w AS (SELECT * FROM (""" + _kg_walks_oracle() + """) walks),
sgp AS (SELECT DISTINCT a.node AS center, b.node AS context
        FROM w a JOIN w b ON a.walk_id = b.walk_id
        WHERE a.step <> b.step AND abs(a.step - b.step) <= 2),
vocab AS (SELECT entity, row_number() OVER (ORDER BY entity) - 1 AS idx
          FROM (SELECT DISTINCT context AS entity FROM sgp)),
cand AS (SELECT center, context, k,
                ('0x' || substr(md5('sgneg|' || center || '|' || context
                                    || '|' || CAST(k AS VARCHAR)), 1, 8))
                  ::BIGINT % (SELECT count(*) FROM vocab) AS idx
         FROM sgp CROSS JOIN (VALUES (0), (1)) ks(k)),
corr AS (SELECT c.center, c.context, c.k, v.entity AS neg_context
         FROM cand c JOIN vocab v USING (idx)
         WHERE v.entity <> c.context)
SELECT corr.center, corr.context, CAST(corr.k AS INT) AS k,
       corr.neg_context
FROM corr LEFT JOIN sgp t ON corr.center = t.center
                         AND corr.neg_context = t.context
WHERE t.center IS NULL
""",
        "fact_conflicts": _TS_BASE_CTE + """
o2 AS (SELECT DISTINCT subj, pred, obj, ts FROM obs)
SELECT a.subj, a.pred, a.obj AS obj_a, b.obj AS obj_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(min(abs(epoch(a.ts) - epoch(b.ts))) AS BIGINT) AS min_gap_s
FROM o2 a JOIN o2 b ON a.subj = b.subj AND a.pred = b.pred
WHERE a.obj < b.obj AND abs(epoch(a.ts) - epoch(b.ts)) <= 2592000
GROUP BY 1, 2, 3, 4
""",
        "kg_validate": _BASE_CTE + """
, t AS (SELECT DISTINCT cust AS subj, 'works_for' AS pred, supp AS obj
        FROM base
        UNION SELECT DISTINCT supp, 'located_in', nat FROM base),
prof AS (SELECT pred, split_part(subj, ' ', 1) AS st,
                split_part(obj, ' ', 1) AS ot, count(*) AS n
         FROM t GROUP BY 1, 2, 3),
maj AS (SELECT pred, st AS mst, ot AS mot FROM (
          SELECT pred, st, ot, row_number() OVER (
            PARTITION BY pred ORDER BY n DESC, st DESC, ot DESC) AS rn
          FROM prof) WHERE rn = 1),
card AS (SELECT pred,
                (CAST(count(*) AS DOUBLE) / count(DISTINCT subj)) <= 1.5
                  AS functional
         FROM t GROUP BY pred),
nobj AS (SELECT subj, pred, count(DISTINCT obj) AS n_obj
         FROM t GROUP BY 1, 2)
SELECT t.subj, t.pred, t.obj,
       split_part(t.subj, ' ', 1) = maj.mst AS domain_ok,
       split_part(t.obj, ' ', 1) = maj.mot AS range_ok,
       (NOT card.functional) OR nobj.n_obj = 1 AS functional_ok
FROM t JOIN maj USING (pred) JOIN card USING (pred)
       JOIN nobj ON t.subj = nobj.subj AND t.pred = nobj.pred
""",
        "turn_topic_shifts": _BASE_CTE + """
, turns AS (SELECT conv_id, turn_idx,
                   min(cust || ' works for ' || supp || ' in ' || nat
                       || '.') AS text
            FROM base GROUP BY 1, 2),
tok AS (SELECT conv_id, turn_idx,
               list_distinct(list_filter(
                 string_split_regex(lower(text), '[^a-z0-9]+'),
                 x -> x <> '')) AS toks
        FROM turns),
lagd AS (SELECT conv_id, turn_idx, toks,
                lag(toks) OVER (PARTITION BY conv_id
                                ORDER BY turn_idx) AS prev
         FROM tok),
jc AS (SELECT conv_id, turn_idx,
              CASE WHEN prev IS NULL THEN NULL
                   ELSE round(CAST(len(list_intersect(toks, prev)) AS DOUBLE)
                              / len(list_distinct(list_concat(toks, prev))),
                              6) END AS jaccard
       FROM lagd)
SELECT conv_id, turn_idx, jaccard,
       COALESCE(jaccard < 0.2, FALSE) AS is_boundary
FROM jc
""",
        "entity_salience": _BASE_CTE + """
, tr AS (SELECT DISTINCT conv_id, turn_idx, cust AS subj,
                'works_for' AS pred, supp AS obj
         FROM base
         UNION SELECT DISTINCT conv_id, turn_idx, supp, 'located_in', nat
         FROM base),
ment AS (SELECT conv_id, subj AS entity FROM tr
         UNION ALL SELECT conv_id, obj FROM tr),
pc AS (SELECT conv_id, entity, count(*) AS n_mentions
       FROM ment GROUP BY 1, 2),
dfv AS (SELECT entity, count(*) AS df FROM pc GROUP BY 1),
nc AS (SELECT count(DISTINCT conv_id) AS n FROM tr)
SELECT conv_id, entity, n_mentions, df,
       round(n_mentions * ln(CAST(n AS DOUBLE) / df), 6) AS salience
FROM pc JOIN dfv USING (entity) CROSS JOIN nc
""",
        "kg_communities": _LPA_CTES + """
SELECT node, label FROM lpa
""",
        "kg_modularity": _LPA_CTES + """
, ce AS (SELECT DISTINCT least(u, v) AS cu, greatest(u, v) AS cv FROM e),
mm AS (SELECT count(*) AS m FROM ce),
el AS (SELECT la.label AS lu, lb.label AS lv
       FROM ce JOIN lpa la ON ce.cu = la.node
               JOIN lpa lb ON ce.cv = lb.node),
intra AS (SELECT lu AS community, count(*) AS internal_edges
          FROM el WHERE lu = lv GROUP BY lu),
deg AS (SELECT node, count(*) AS d
        FROM (SELECT cu AS node FROM ce UNION ALL SELECT cv FROM ce)
        GROUP BY node),
cd AS (SELECT lpa.label AS community, count(*) AS n_nodes,
              CAST(sum(deg.d) AS BIGINT) AS degree_sum
       FROM lpa JOIN deg ON lpa.node = deg.node GROUP BY lpa.label)
SELECT cd.community, cd.n_nodes,
       coalesce(intra.internal_edges, 0) AS internal_edges,
       cd.degree_sum,
       round(CAST(coalesce(intra.internal_edges, 0) AS DOUBLE) / mm.m
             - (CAST(cd.degree_sum AS DOUBLE) / (2.0 * mm.m))
               * (CAST(cd.degree_sum AS DOUBLE) / (2.0 * mm.m)), 6)
         + 0.0 AS q_term
FROM cd LEFT JOIN intra ON cd.community = intra.community, mm
""",
        "kg_quotient": _LPA_CTES + """
, ce AS (SELECT DISTINCT least(u, v) AS cu, greatest(u, v) AS cv FROM e),
ql AS (SELECT least(la.label, lb.label) AS c_u,
              greatest(la.label, lb.label) AS c_v
       FROM ce JOIN lpa la ON ce.cu = la.node
               JOIN lpa lb ON ce.cv = lb.node)
SELECT c_u, c_v, count(*) AS weight FROM ql GROUP BY c_u, c_v
""",
        "kg_hits": _BASE_CTE + """
, t AS (SELECT DISTINCT cust AS subj, 'works_for' AS pred, supp AS obj
        FROM base
        UNION SELECT DISTINCT supp, 'located_in', nat FROM base),
e AS (SELECT DISTINCT subj AS src, obj AS dst FROM t),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
a1 AS (SELECT dst AS node, count(*) AS a FROM e GROUP BY dst),
h1 AS (SELECT e.src AS node, CAST(sum(a1.a) AS BIGINT) AS h
       FROM e JOIN a1 ON e.dst = a1.node GROUP BY e.src),
a2 AS (SELECT e.dst AS node, CAST(sum(h1.h) AS BIGINT) AS a
       FROM e JOIN h1 ON e.src = h1.node GROUP BY e.dst),
h2 AS (SELECT e.src AS node, CAST(sum(a2.a) AS BIGINT) AS h
       FROM e JOIN a2 ON e.dst = a2.node GROUP BY e.src),
sc AS (SELECT n.node, COALESCE(h2.h, 0) AS hub, COALESCE(a2.a, 0) AS auth
       FROM nodes n LEFT JOIN h2 ON n.node = h2.node
                    LEFT JOIN a2 ON n.node = a2.node)
SELECT node, hub, auth,
       CAST(hub AS DOUBLE) / CAST(sum(hub) OVER () AS DOUBLE) AS hub_norm,
       CAST(auth AS DOUBLE) / CAST(sum(auth) OVER () AS DOUBLE) AS auth_norm
FROM sc
""",
        "kg_snapshot_diff": _BASE_CTE + """
, tr AS (SELECT DISTINCT conv_id, turn_idx, cust AS subj,
                'works_for' AS pred, supp AS obj
         FROM base
         UNION SELECT DISTINCT conv_id, turn_idx, supp, 'located_in', nat
         FROM base),
o AS (SELECT subj, pred, obj, count(*) AS old_evidence
      FROM tr WHERE turn_idx <= 3 GROUP BY 1, 2, 3),
n AS (SELECT subj, pred, obj, count(*) AS new_evidence
      FROM tr GROUP BY 1, 2, 3)
SELECT COALESCE(o.subj, n.subj) AS subj,
       COALESCE(o.pred, n.pred) AS pred,
       COALESCE(o.obj, n.obj) AS obj,
       CASE WHEN o.subj IS NULL THEN 'added'
            WHEN n.subj IS NULL THEN 'removed'
            WHEN o.old_evidence <> n.new_evidence THEN 'changed'
            ELSE 'unchanged' END AS status,
       COALESCE(old_evidence, 0) AS old_evidence,
       COALESCE(new_evidence, 0) AS new_evidence
FROM o FULL JOIN n ON o.subj = n.subj AND o.pred = n.pred
                  AND o.obj = n.obj
""",
        "kg_summary": _BASE_CTE + """
, t AS (SELECT DISTINCT cust AS subj, 'works_for' AS pred, supp AS obj
        FROM base
        UNION SELECT DISTINCT supp, 'located_in', nat FROM base),
deg AS (SELECT subj AS node, count(*) AS out_degree FROM t GROUP BY 1),
ind AS (SELECT obj AS node, count(*) AS in_degree FROM t GROUP BY 1),
nodes AS (SELECT COALESCE(d.node, i.node) AS node,
                 COALESCE(out_degree, 0) AS od,
                 COALESCE(in_degree, 0) AS ind
          FROM deg d FULL JOIN ind i ON d.node = i.node)
SELECT count(*) AS n_nodes, CAST(sum(od) AS BIGINT) AS n_edges,
       (SELECT count(DISTINCT pred) FROM t) AS n_predicates,
       max(od) AS max_out_degree, max(ind) AS max_in_degree,
       CAST(sum(od) AS DOUBLE) / count(*) AS avg_out_degree
FROM nodes
""",
        "resolve_pronouns": _BASE_CTE + """
, tt AS (SELECT conv_id, turn_idx, min(cust) AS cust
         FROM base GROUP BY 1, 2),
r AS (SELECT conv_id, turn_idx, cust,
             lag(turn_idx) OVER (PARTITION BY conv_id
                                 ORDER BY turn_idx) AS prev
      FROM tt)
SELECT conv_id, turn_idx, 'he' AS pronoun,
       CASE WHEN prev IS NOT NULL THEN cust END AS antecedent,
       prev AS ant_turn
FROM r
""",
        "fact_transitions": _TS_BASE_CTE + """
ord AS (SELECT subj, pred, obj, ts, conv_id, turn_idx,
               lag(obj) OVER (PARTITION BY subj, pred
                              ORDER BY ts, conv_id, turn_idx, obj) AS prev
        FROM obs),
chg AS (SELECT subj, pred, obj, ts AS valid_from, conv_id, turn_idx
        FROM ord WHERE prev IS NULL OR prev <> obj)
SELECT subj, pred, obj, valid_from,
       lead(valid_from) OVER (PARTITION BY subj, pred
                              ORDER BY valid_from, conv_id, turn_idx, obj)
         AS valid_to,
       CAST(row_number() OVER (PARTITION BY subj, pred
                               ORDER BY valid_from, conv_id, turn_idx, obj)
            AS INT) AS version
FROM chg
""",
        "kg_as_of": _TS_BASE_CTE + """
ord AS (SELECT subj, pred, obj, ts, conv_id, turn_idx,
               lag(obj) OVER (PARTITION BY subj, pred
                              ORDER BY ts, conv_id, turn_idx, obj) AS prev
        FROM obs),
chg AS (SELECT subj, pred, obj, ts AS valid_from, conv_id, turn_idx
        FROM ord WHERE prev IS NULL OR prev <> obj),
hist AS (SELECT subj, pred, obj, valid_from,
                lead(valid_from) OVER (PARTITION BY subj, pred
                                       ORDER BY valid_from, conv_id,
                                                turn_idx, obj) AS valid_to,
                CAST(row_number() OVER (PARTITION BY subj, pred
                                        ORDER BY valid_from, conv_id,
                                                 turn_idx, obj)
                     AS INT) AS version
         FROM chg)
SELECT subj, pred, obj, valid_from, version
FROM hist
WHERE valid_from <= TIMESTAMP '1995-06-17 00:00:00'
  AND (valid_to IS NULL OR valid_to > TIMESTAMP '1995-06-17 00:00:00')
""",
        "kg_edges_decayed": _TS_BASE_CTE + """
nw AS (SELECT max(ts) AS now_ts FROM obs),
wobs AS (SELECT subj, pred, obj,
                CAST(power(2.0, 3 - LEAST(CAST(floor(
                    floor((epoch(now_ts) - epoch(ts)) / 86400) / 365.0)
                    AS BIGINT), 3)) AS BIGINT) AS w
         FROM obs CROSS JOIN nw)
SELECT subj AS src, pred, obj AS dst, CAST(sum(w) AS BIGINT) AS weight
FROM wobs GROUP BY 1, 2, 3
""",
        "kg_ego": _BASE_CTE + """
, t AS (SELECT DISTINCT cust AS subj, 'works_for' AS pred, supp AS obj
        FROM base
        UNION SELECT DISTINCT supp, 'located_in', nat FROM base),
e AS (SELECT DISTINCT subj AS src, obj AS dst FROM t WHERE subj <> obj),
nbr AS (SELECT src AS u, dst AS v FROM e
        UNION SELECT dst, src FROM e),
d0 AS (SELECT 'Nation N3' AS node, 0 AS dist),
f1 AS (SELECT DISTINCT v AS node FROM nbr JOIN d0 ON nbr.u = d0.node
       WHERE v NOT IN (SELECT node FROM d0)),
d1 AS (SELECT node, dist FROM d0 UNION ALL SELECT node, 1 FROM f1),
f2 AS (SELECT DISTINCT v AS node FROM nbr JOIN f1 ON nbr.u = f1.node
       WHERE v NOT IN (SELECT node FROM d1)),
d AS (SELECT node, dist FROM d1 UNION ALL SELECT node, 2 FROM f2)
SELECT e.src, e.dst, CAST(ds.dist AS INT) AS src_dist,
       CAST(dd.dist AS INT) AS dst_dist
FROM e JOIN d ds ON e.src = ds.node
       JOIN d dd ON e.dst = dd.node
""",
        "kg_truth_decayed": _TS_BASE_CTE + """
nw AS (SELECT max(ts) AS now_ts FROM obs),
wobs AS (SELECT subj, pred, obj,
                CAST(power(2.0, 3 - LEAST(CAST(floor(
                    floor((epoch(now_ts) - epoch(ts)) / 86400) / 365.0)
                    AS BIGINT), 3)) AS BIGINT) AS w
         FROM obs CROSS JOIN nw),
we AS (SELECT subj, pred, obj, CAST(sum(w) AS BIGINT) AS weight
       FROM wobs GROUP BY 1, 2, 3)
SELECT subj, pred, obj, weight,
       CAST(n_alternatives AS BIGINT) AS n_alternatives,
       CAST(total_weight AS BIGINT) AS total_weight
FROM (SELECT *,
             count(*) OVER (PARTITION BY subj, pred) AS n_alternatives,
             sum(weight) OVER (PARTITION BY subj, pred) AS total_weight,
             row_number() OVER (PARTITION BY subj, pred
                                ORDER BY weight DESC, obj) AS rn
      FROM we)
WHERE rn = 1
""",
        "kg_top_facts": _TS_BASE_CTE + """
ev AS (SELECT subj, pred, obj, CAST(count(*) AS BIGINT) AS support,
              min(ts) AS first_ts
       FROM obs GROUP BY 1, 2, 3)
SELECT subj, pred, obj, support, first_ts,
       CAST(rank AS INT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY subj
                                   ORDER BY support DESC, pred, obj,
                                            first_ts) AS rank
      FROM ev) r
WHERE rank <= 3
""",
        "kg_neighborhood_features": _BASE_CTE + """
, t AS (SELECT DISTINCT cust AS subj, 'works_for' AS pred, supp AS obj
        FROM base
        UNION SELECT DISTINCT supp, 'located_in', nat FROM base),
o AS (SELECT subj AS node, CAST(count(*) AS BIGINT) od FROM t GROUP BY 1),
i AS (SELECT obj AS node, CAST(count(*) AS BIGINT) idg FROM t GROUP BY 1),
deg AS (SELECT COALESCE(o.node, i.node) AS node,
               COALESCE(od, 0) AS out_degree, COALESCE(idg, 0) AS in_degree
        FROM o FULL JOIN i ON o.node = i.node),
po AS (SELECT subj AS node, CAST(count(DISTINCT pred) AS BIGINT) np
       FROM t GROUP BY 1),
nb AS (SELECT e.node, CAST(count(*) AS BIGINT) n_nbrs,
              CAST(sum(d.out_degree) AS BIGINT) s,
              CAST(max(d.out_degree) AS BIGINT) mx
       FROM (SELECT DISTINCT subj AS node, obj AS nbr FROM t) e
       JOIN deg d ON e.nbr = d.node
       GROUP BY 1)
SELECT deg.node, deg.out_degree, deg.in_degree,
       COALESCE(po.np, 0) AS n_preds_out,
       COALESCE(nb.n_nbrs, 0) AS n_nbrs_out,
       COALESCE(nb.s, 0) AS nbr_out_degree_sum,
       COALESCE(nb.mx, 0) AS nbr_out_degree_max,
       round(CAST(nb.s AS DOUBLE) / nb.n_nbrs, 6) + 0.0
         AS nbr_out_degree_mean
FROM deg LEFT JOIN po ON deg.node = po.node
         LEFT JOIN nb ON deg.node = nb.node
""",
        "kg_type_inference": _BASE_CTE + """
, t AS (SELECT DISTINCT cust AS subj, 'works_for' AS pred, supp AS obj
        FROM base
        UNION SELECT DISTINCT supp, 'located_in', nat FROM base),
und AS (SELECT DISTINCT a, b FROM (
          SELECT subj AS a, obj AS b FROM t
          UNION ALL SELECT obj, subj FROM t)
        WHERE a <> b),
seeds AS (SELECT node, tp, 0 AS rnd FROM (
            SELECT DISTINCT subj AS node, 'PER' AS tp FROM t
            WHERE subj LIKE 'Customer %'
            UNION SELECT DISTINCT obj, 'LOC' FROM t
            WHERE obj LIKE 'Nation %')),
v1 AS (SELECT und.b AS node, s.tp, count(*) AS n
       FROM und JOIN seeds s ON und.a = s.node
       WHERE und.b NOT IN (SELECT node FROM seeds)
       GROUP BY 1, 2),
p1 AS (SELECT node, tp, 1 AS rnd FROM (
         SELECT *, row_number() OVER (PARTITION BY node
                     ORDER BY n DESC, tp) AS r FROM v1)
       WHERE r = 1),
t1 AS (SELECT * FROM seeds UNION ALL SELECT * FROM p1),
v2 AS (SELECT und.b AS node, s.tp, count(*) AS n
       FROM und JOIN t1 s ON und.a = s.node
       WHERE und.b NOT IN (SELECT node FROM t1)
       GROUP BY 1, 2),
p2 AS (SELECT node, tp, 2 AS rnd FROM (
         SELECT *, row_number() OVER (PARTITION BY node
                     ORDER BY n DESC, tp) AS r FROM v2)
       WHERE r = 1)
SELECT node, tp AS type, CAST(rnd AS INT) AS round
FROM (SELECT * FROM t1 UNION ALL SELECT * FROM p2)
""",
        "kg_rule_mining": _BASE_CTE + """
, t AS (SELECT DISTINCT cust AS subj, 'works_for' AS pred, supp AS obj
        FROM base
        UNION SELECT DISTINCT supp, 'located_in', nat FROM base),
bd AS (SELECT DISTINCT b1.subj AS subj, 'based_in' AS pred, b2.obj AS obj
       FROM t b1 JOIN t b2 ON b1.obj = b2.subj
       WHERE b1.pred = 'works_for' AND b2.pred = 'located_in'
         AND CAST(regexp_extract(b1.subj, 'C(\\d+)$', 1) AS INT) % 2 = 0),
t2 AS (SELECT subj, pred, obj FROM t UNION SELECT * FROM bd),
chain AS (SELECT DISTINCT a.pred AS body_p, b.pred AS body_q,
                 a.subj AS x, b.obj AS z
          FROM t2 a JOIN t2 b ON a.obj = b.subj),
body AS (SELECT body_p, body_q, CAST(count(*) AS BIGINT) n_body
         FROM chain GROUP BY 1, 2),
heads AS (SELECT chain.body_p, chain.body_q, h.pred AS head_r,
                 CAST(count(*) AS BIGINT) n_match
          FROM chain JOIN t2 h ON chain.x = h.subj AND chain.z = h.obj
          GROUP BY 1, 2, 3 HAVING count(*) >= 2)
SELECT heads.body_p, heads.body_q, heads.head_r, body.n_body,
       heads.n_match,
       round(CAST(heads.n_match AS DOUBLE) / body.n_body, 6) + 0.0
         AS confidence
FROM heads JOIN body ON heads.body_p = body.body_p
                    AND heads.body_q = body.body_q
""",
        "kg_inverse_relations": _BASE_CTE + """
, t AS (SELECT DISTINCT cust AS subj, 'works_for' AS pred, supp AS obj
        FROM base
        UNION SELECT DISTINCT supp, 'located_in', nat FROM base),
t2 AS (SELECT subj, pred, obj FROM t
       UNION SELECT obj, 'employs', subj FROM t
       WHERE pred = 'works_for'
         AND CAST(regexp_extract(obj, 'S(\\d+)$', 1) AS INT) % 2 = 0),
sup AS (SELECT pred, count(*) AS n FROM t2 GROUP BY pred),
ov AS (SELECT a.pred AS pred, b.pred AS inv_pred,
              CAST(count(*) AS BIGINT) AS overlap
       FROM t2 a JOIN t2 b ON a.subj = b.obj AND a.obj = b.subj
       GROUP BY 1, 2 HAVING count(*) >= 2)
SELECT ov.pred, ov.inv_pred, ov.overlap,
       CAST(sp.n AS BIGINT) AS n_pred, CAST(si.n AS BIGINT) AS n_inv,
       round(ov.overlap / CAST(sp.n AS DOUBLE), 6) + 0.0 AS conf_fwd,
       round(ov.overlap / CAST(si.n AS DOUBLE), 6) + 0.0 AS conf_bwd
FROM ov JOIN sup sp ON ov.pred = sp.pred
        JOIN sup si ON ov.inv_pred = si.pred
""",
        "kg_degrees_incremental": _TS_BASE_CTE + """
t AS (SELECT DISTINCT subj, pred, obj FROM obs),
o AS (SELECT subj AS node, count(*) od FROM t GROUP BY 1),
i AS (SELECT obj AS node, count(*) idg FROM t GROUP BY 1)
SELECT COALESCE(o.node, i.node) AS node,
       CAST(COALESCE(od, 0) AS BIGINT) AS out_degree,
       CAST(COALESCE(idg, 0) AS BIGINT) AS in_degree
FROM o FULL JOIN i ON o.node = i.node
""",
        "entity_timeline": _TS_BASE_CTE + """
roles AS (SELECT subj AS entity, conv_id, ts, 1 AS is_subj FROM obs
          UNION ALL SELECT obj, conv_id, ts, 0 FROM obs)
SELECT entity, count(*) AS n_obs, count(DISTINCT conv_id) AS n_convs,
       min(ts) AS first_seen, max(ts) AS last_seen,
       CAST(sum(is_subj) AS BIGINT) AS n_as_subj,
       CAST(sum(1 - is_subj) AS BIGINT) AS n_as_obj
FROM roles GROUP BY entity
""",
        "schema_induction": _BASE_CTE + """
, t AS (SELECT DISTINCT cust AS subj, 'works_for' AS pred, supp AS obj
        FROM base
        UNION SELECT DISTINCT supp, 'located_in', nat FROM base),
prof AS (SELECT pred, split_part(subj, ' ', 1) AS subj_type,
                split_part(obj, ' ', 1) AS obj_type,
                count(*) AS n_edges
         FROM t GROUP BY 1, 2, 3)
SELECT pred, subj_type, obj_type, n_edges,
       CAST(n_edges AS DOUBLE) / sum(n_edges) OVER (PARTITION BY pred)
         AS frac
FROM prof
""",
        "export_ntriples": _BASE_CTE + """
, t AS (SELECT DISTINCT cust AS subj, 'works_for' AS pred, supp AS obj
        FROM base
        UNION SELECT DISTINCT supp, 'located_in', nat FROM base)
SELECT '<urn:ent:' || replace(subj, ' ', '_') || '> <urn:rel:' || pred
       || '> <urn:ent:' || replace(obj, ' ', '_') || '> .' AS ntriple
FROM t
""",
        "canonicalize_surfaces": """
WITH RECURSIVE s AS (
  SELECT p_brand, lower(p_name) AS surface, count(*) AS freq
  FROM part GROUP BY 1, 2
), g AS (
  SELECT p_brand, surface, freq,
         list_distinct([substr('##' || surface || '##', i, 3)
                        for i in range(1, length(surface) + 3)]) AS grams
  FROM s
), pr AS (
  SELECT a.p_brand || chr(31) || a.surface AS a_key,
         b.p_brand || chr(31) || b.surface AS b_key
  FROM g a JOIN g b ON a.p_brand = b.p_brand AND a.surface < b.surface
  WHERE round(2.0 * len(list_intersect(a.grams, b.grams))
              / (len(a.grams) + len(b.grams)), 6) >= 0.6
), e AS (SELECT a_key AS u, b_key AS v FROM pr
         UNION SELECT b_key, a_key FROM pr),
nds AS (SELECT DISTINCT u AS node FROM e),
reach AS (
  SELECT node AS u, node AS v FROM nds
  UNION
  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u
), comp AS (SELECT u AS node, min(v) AS component FROM reach GROUP BY u),
lab AS (
  SELECT s.p_brand, s.surface, s.freq,
         COALESCE(c.component,
                  s.p_brand || chr(31) || s.surface) AS comp
  FROM s LEFT JOIN comp c ON s.p_brand || chr(31) || s.surface = c.node
), bf AS (
  SELECT comp, max(freq) AS best_freq, count(*) AS cluster_size
  FROM lab GROUP BY 1
), rep AS (
  SELECT lab.comp, min(lab.surface) AS canonical
  FROM lab JOIN bf ON lab.comp = bf.comp AND lab.freq = bf.best_freq
  GROUP BY 1
)
SELECT lab.p_brand, lab.surface, rep.canonical,
       CAST(lab.freq AS BIGINT) AS freq,
       CAST(bf.cluster_size AS BIGINT) AS cluster_size
FROM lab JOIN bf ON lab.comp = bf.comp JOIN rep ON lab.comp = rep.comp
""",
        "asof_join_state": """
WITH states AS (
  SELECT user_id, ts, max(value) AS plan_value
  FROM events WHERE event_type = 'signup' GROUP BY 1, 2
), probes AS (
  SELECT event_id, user_id, ts, event_type
  FROM events WHERE event_type <> 'signup'
)
SELECT p.event_id, p.user_id, p.ts, p.event_type,
       s.plan_value, s.ts AS asof_ts
FROM probes p ASOF LEFT JOIN states s
  ON p.user_id = s.user_id AND p.ts >= s.ts
""",
        "interval_join_incidents": """
WITH iv AS (
  SELECT event_id AS incident_id, user_id, ts AS s,
         ts + INTERVAL 6 HOUR AS e
  FROM events WHERE event_type = 'error'
)
SELECT iv.incident_id, p.event_id, p.user_id, p.ts, p.event_type
FROM (SELECT event_id, user_id, ts, event_type FROM events
      WHERE event_type <> 'error') p
JOIN iv ON p.user_id = iv.user_id AND p.ts >= iv.s AND p.ts < iv.e
""",
        "hypertable_rollup": """
WITH lvl AS (
  SELECT r.res AS resolution, r.secs,
         make_timestamp((epoch_us(ts) // (CAST(r.secs AS BIGINT) * 1000000))
                        * CAST(r.secs AS BIGINT) * 1000000) AS window_start,
         event_type, value
  FROM events CROSS JOIN (VALUES ('5 minutes', 300), ('1 hour', 3600),
                                 ('1 day', 86400)) r(res, secs)
)
SELECT resolution, window_start,
       window_start + to_seconds(secs) AS window_end,
       event_type, count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(38,9))) AS DOUBLE), 6)
         AS total_value,
       min(value) AS min_value, max(value) AS max_value
FROM lvl GROUP BY 1, 2, 3, 4
""",
        "ann_lsh_top1": _ann_lsh_oracle(),
        "ann_ivf_top1": _ann_ivf_oracle(),
        "repetition_scores": """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
tc AS (
  SELECT doc_id, w, count(*) AS c
  FROM (SELECT doc_id, unnest(ts) AS w FROM t) GROUP BY 1, 2
), ta AS (
  SELECT doc_id, sum(c) AS n, max(c) AS maxt, count(*) AS nd
  FROM tc GROUP BY 1
), bc AS (
  SELECT doc_id, b, count(*) AS c
  FROM (SELECT doc_id,
               unnest([ts[i - 1] || ' ' || ts[i]
                       FOR i IN range(2, len(ts) + 1)]) AS b
        FROM t) GROUP BY 1, 2
), ba AS (
  SELECT doc_id, sum(c) AS nb, max(c) AS maxb FROM bc GROUP BY 1
)
SELECT ta.doc_id, CAST(n AS INT) AS n_tokens,
       round(1.0 - nd::DOUBLE / n, 6) AS dup_token_frac,
       round(maxt::DOUBLE / n, 6) AS top_token_frac,
       round(COALESCE(maxb::DOUBLE / nb, 0.0), 6) AS top_bigram_frac
FROM ta LEFT JOIN ba USING (doc_id)
""",
        "scrub_pii": _scrub_pii_oracle(),
        "curate_corpus": _curate_corpus_oracle(),
        "curate_corpus_full": _curate_full_oracle(),
        "curation_report": _curation_report_oracle(),
        "decontamination": """
WITH g AS (
  SELECT doc_id, ts FROM (
    SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents)
), ev AS (
  SELECT DISTINCT array_to_string(ts[i:i+4], ' ') AS ngram
  FROM g, unnest(range(1, greatest(len(ts) - 4, 0) + 1)) r(i)
  WHERE doc_id < 5
), dg AS (
  SELECT doc_id,
         unnest(list_distinct([array_to_string(ts[i:i+4], ' ')
                               FOR i IN range(1, greatest(len(ts) - 4, 0)
                                              + 1)])) AS ngram
  FROM g WHERE doc_id >= 5
), hits AS (
  SELECT doc_id, count(*) AS n_hits
  FROM dg JOIN ev USING (ngram) GROUP BY 1
)
SELECT d.doc_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits
FROM (SELECT doc_id FROM documents WHERE doc_id >= 5) d
LEFT JOIN hits h ON d.doc_id = h.doc_id
""",
        # gap-and-islands: pos − row_number is constant within a run of
        # consecutively matched gram positions; longest run r ⇒ shared
        # span of r + n − 1 tokens
        "decontamination_spans": """
WITH g AS (
  SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents
), ev AS (
  SELECT DISTINCT array_to_string(ts[i:i+4], ' ') AS ngram
  FROM g, unnest(range(1, greatest(len(ts) - 4, 0) + 1)) r(i)
  WHERE doc_id < 5
), dg AS (
  SELECT doc_id, i AS pos, array_to_string(ts[i:i+4], ' ') AS ngram
  FROM g, unnest(range(1, greatest(len(ts) - 4, 0) + 1)) r(i)
  WHERE doc_id >= 5
), m AS (
  SELECT doc_id, pos FROM dg JOIN ev USING (ngram)
), runs AS (
  SELECT doc_id,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM m
), rl AS (
  SELECT doc_id, count(*) AS run FROM runs GROUP BY doc_id, grp
), best AS (SELECT doc_id, max(run) + 4 AS mx FROM rl GROUP BY doc_id)
SELECT d.doc_id, CAST(COALESCE(b.mx, 0) AS INT) AS max_span_tokens
FROM (SELECT doc_id FROM documents WHERE doc_id >= 5) d
LEFT JOIN best b ON d.doc_id = b.doc_id
""",
        # parallel unnests zip in DuckDB, so the two comprehensions
        # produce aligned (w1, w2) bigram rows
        "lm_perplexity": """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
big AS (
  SELECT doc_id,
         unnest([CASE WHEN i = 1 THEN '<s>' ELSE ts[i - 1] END
                 FOR i IN range(1, len(ts) + 1)]) AS w1,
         unnest([ts[i] FOR i IN range(1, len(ts) + 1)]) AS w2
  FROM t
), c12 AS (SELECT w1, w2, count(*) AS c FROM big GROUP BY 1, 2),
c1 AS (SELECT w1, count(*) AS c FROM big GROUP BY 1),
v AS (SELECT CAST(count(DISTINCT w2) AS DOUBLE) AS n FROM big),
lp AS (
  SELECT big.doc_id,
         ln((CAST(COALESCE(c12.c, 0) AS DOUBLE) + 1.0)
            / (CAST(COALESCE(c1.c, 0) AS DOUBLE) + 1.0 * v.n)) AS lp
  FROM big LEFT JOIN c12 USING (w1, w2) LEFT JOIN c1 USING (w1)
  CROSS JOIN v
)
SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
       round(exp(-(CAST(sum(CAST(lp AS DECIMAL(38,18))) AS DOUBLE))
                 / count(*)), 6) AS ppl
FROM lp GROUP BY 1
""",
        "stratified_sample": """
SELECT doc_id, lang FROM documents
WHERE ('0x' || substr(md5('sample|' || CAST(doc_id AS VARCHAR)), 1, 8))
        ::BIGINT % 1000000
      < CASE WHEN lang = 'en' THEN 500000
             WHEN lang = 'de' THEN 250000
             ELSE 100000 END
""",
        # dim=64 is the embeddings-table contract (TESTDATA.md), k=8 and
        # both Lloyd iterations unrolled; empty clusters coalesce to
        # their previous centroid like the engine
        "kmeans_assign": """
WITH c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx,
         CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
  QUALIFY row_number() OVER (ORDER BY vec_id) <= 8
), e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
d1 AS (
  SELECT e.vec_id, c0.cidx,
         list_sum([(e.v[i] - c0.v[i]) * (e.v[i] - c0.v[i])
                   FOR i IN range(1, 65)]) AS d
  FROM e CROSS JOIN c0
), a1 AS (
  SELECT vec_id, cidx AS cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY d ASC, cidx ASC) AS rn
    FROM d1) WHERE rn = 1
), m1 AS (
  SELECT a1.cluster, r.i AS dim,
         CAST(sum(CAST(e.v[r.i] AS DECIMAL(38,18))) AS DOUBLE)
           / count(*) AS m
  FROM a1 JOIN e USING (vec_id) CROSS JOIN range(1, 65) r(i)
  GROUP BY 1, 2
), c1 AS (
  SELECT c0.cidx, list(COALESCE(m1.m, c0.v[r.i]) ORDER BY r.i) AS v
  FROM c0 CROSS JOIN range(1, 65) r(i)
  LEFT JOIN m1 ON m1.cluster = c0.cidx AND m1.dim = r.i
  GROUP BY c0.cidx
), d2 AS (
  SELECT e.vec_id, c1.cidx,
         list_sum([(e.v[i] - c1.v[i]) * (e.v[i] - c1.v[i])
                   FOR i IN range(1, 65)]) AS d
  FROM e CROSS JOIN c1
)
SELECT vec_id, CAST(cluster AS INT) AS cluster FROM (
  SELECT vec_id, cidx AS cluster,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY d ASC, cidx ASC) AS rn
  FROM d2) WHERE rn = 1
""",
        "kg_degrees": _BASE_CTE + """
, t AS (SELECT DISTINCT cust AS subj, 'works_for' AS pred, supp AS obj
        FROM base
        UNION SELECT DISTINCT supp, 'located_in', nat FROM base),
o AS (SELECT subj AS node, count(*) od FROM t GROUP BY 1),
i AS (SELECT obj AS node, count(*) idg FROM t GROUP BY 1)
SELECT COALESCE(o.node, i.node) AS node,
       CAST(COALESCE(od, 0) AS BIGINT) AS out_degree,
       CAST(COALESCE(idg, 0) AS BIGINT) AS in_degree
FROM o FULL JOIN i ON o.node = i.node
""",
        "kg_pagerank": _kg_pagerank_oracle(),
        "kg_pagerank_warm": _kg_pagerank_warm_oracle(),
        "kg_ppr": _kg_ppr_oracle(),
        "kg_pagerank_weighted": _kg_pagerank_weighted_oracle(),
        "kg_link_prediction": _BASE_CTE + """
, t AS (SELECT DISTINCT cust AS s, supp AS o FROM base),
e AS (SELECT least(s, o) u, greatest(s, o) v FROM t),
und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
deg AS (SELECT u AS node, count(*) degree FROM und GROUP BY 1),
centers AS (
  SELECT und.u n, deg.degree nd, und.v nb
  FROM und JOIN deg ON und.u = deg.node
  WHERE deg.degree <= 50
), w AS (
  SELECT c1.nb a, c2.nb b, c1.nd nd
  FROM centers c1 JOIN centers c2
    ON c1.n = c2.n AND c1.nb < c2.nb
), sc AS (
  SELECT a, b, count(*) common,
         CAST(sum(CAST(1.0 / ln(nd) AS DECIMAL(38,18))) AS DOUBLE) aa
  FROM w GROUP BY 1, 2
), na AS (
  SELECT sc.* FROM sc
  LEFT JOIN e ON sc.a = e.u AND sc.b = e.v
  WHERE e.u IS NULL
)
SELECT na.a, na.b, CAST(common AS BIGINT) AS common,
       round(common / (da.degree + db.degree - common), 6) AS jaccard,
       round(aa, 6) AS adamic_adar
FROM na JOIN deg da ON na.a = da.node
JOIN deg db ON na.b = db.node
""",
        # first/last = row_number over the (conv, turn) value itself, so
        # ties are between identical values — deterministic either way
        "kg_edge_provenance": _BASE_CTE + """
, t AS (
  SELECT DISTINCT conv_id, turn_idx, cust AS subj, 'works_for' AS pred,
         supp AS obj FROM base
  UNION
  SELECT DISTINCT conv_id, turn_idx, supp, 'located_in', nat FROM base
), w AS (
  SELECT subj AS src, pred, obj AS dst, conv_id, turn_idx,
         row_number() OVER (PARTITION BY subj, pred, obj
                            ORDER BY conv_id ASC, turn_idx ASC) rna,
         row_number() OVER (PARTITION BY subj, pred, obj
                            ORDER BY conv_id DESC, turn_idx DESC) rnd,
         count(*) OVER (PARTITION BY subj, pred, obj) n_obs
  FROM t
)
SELECT f.src, f.pred, f.dst, CAST(f.n_obs AS BIGINT) AS n_obs,
       f.conv_id AS first_conv_id, f.turn_idx AS first_turn_idx,
       l.conv_id AS last_conv_id, l.turn_idx AS last_turn_idx
FROM (SELECT * FROM w WHERE rna = 1) f
JOIN (SELECT * FROM w WHERE rnd = 1) l USING (src, pred, dst)
""",
        # co-mention graph: per turn the triple pair asserts
        # {cust, supp, nat}; pairwise edges, then textbook a<b<c triangle
        # join (tiny here; the Spark side's degree orientation is the
        # scale path, the oracle only needs the same answer)
        "kg_ktruss": _BASE_CTE + """
, ent AS (
  SELECT conv_id, turn_idx, cust AS x, supp AS y FROM base
  UNION SELECT conv_id, turn_idx, cust, nat FROM base
  UNION SELECT conv_id, turn_idx, supp, nat FROM base
), e0 AS (
  SELECT DISTINCT least(x, y) AS u, greatest(x, y) AS v
  FROM ent WHERE x <> y
), und0 AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
sup1 AS (
  SELECT e0.u, e0.v, CAST(count(*) AS BIGINT) AS support
  FROM e0 JOIN und0 a ON e0.u = a.u
          JOIN und0 b ON e0.v = b.u AND a.v = b.v
  GROUP BY e0.u, e0.v
), e1 AS (SELECT u, v FROM sup1 WHERE support >= 1),
und1 AS (SELECT u, v FROM e1 UNION ALL SELECT v, u FROM e1),
sup2 AS (
  SELECT e1.u, e1.v, CAST(count(*) AS BIGINT) AS support
  FROM e1 JOIN und1 a ON e1.u = a.u
          JOIN und1 b ON e1.v = b.u AND a.v = b.v
  GROUP BY e1.u, e1.v
), e2 AS (SELECT u, v FROM sup2 WHERE support >= 1)
SELECT e2.u, e2.v, sup2.support
FROM e2 JOIN sup2 USING (u, v)
""",
        "kg_triangles": _BASE_CTE + """
, ent AS (
  SELECT conv_id, turn_idx, cust AS x, supp AS y FROM base
  UNION SELECT conv_id, turn_idx, cust, nat FROM base
  UNION SELECT conv_id, turn_idx, supp, nat FROM base
), e AS (
  SELECT DISTINCT least(x, y) AS u, greatest(x, y) AS v
  FROM ent WHERE x <> y
), d AS (
  SELECT node, count(*) AS degree FROM (
    SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY 1
), tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1 JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
), tn AS (
  SELECT node, count(*) AS t FROM (
    SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri) GROUP BY 1
)
SELECT d.node, CAST(d.degree AS BIGINT) AS degree,
       CAST(COALESCE(tn.t, 0) AS BIGINT) AS triangles,
       round(CASE WHEN d.degree >= 2
                  THEN 2.0 * COALESCE(tn.t, 0)
                       / (d.degree * (d.degree - 1.0))
                  ELSE 0.0 END, 6) AS clustering
FROM d LEFT JOIN tn USING (node)
""",
        "quantize_embeddings": """
WITH s AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         list_max([abs(x) FOR x IN CAST(embedding AS DOUBLE[])]) AS m
  FROM embeddings
), sc AS (
  SELECT vec_id, v,
         CASE WHEN m = 0 THEN 1.0 ELSE m / 127.0 END AS scale
  FROM s
)
SELECT vec_id,
       CAST(unnest(range(len(v))) AS INT) AS dim,
       unnest([CAST(LEAST(127.0, GREATEST(-127.0,
                    floor(x / scale + 0.5))) AS INT) FOR x IN v]) AS q,
       scale
FROM sc
""",
        "tfidf_keywords": """
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> ''
  GROUP BY 1, 2
), df AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM tok
  WHERE term <> '' GROUP BY 1
), n AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM documents),
s AS (
  SELECT tf.doc_id, tf.term,
         round(CAST(tf.tf AS DOUBLE)
               * (ln((n.c + 1) / (df.df + 1.0)) + 1.0), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
), r AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term ASC) AS kw_rank
  FROM s
)
SELECT doc_id, term, tfidf, CAST(kw_rank AS INT) AS kw_rank
FROM r WHERE kw_rank <= 3
""",
        # the coalesce chain mirrors the engine's sorted-term fold
        # exactly: 0.0 + s_query + s_spark + s_table left-to-right, with
        # absent terms contributing an IEEE-identity 0.0
        "bm25_scores": """
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM tok
  WHERE term <> '' GROUP BY 1, 2
), df AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM tok
  WHERE term <> '' GROUP BY 1
), n AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM documents),
dl AS (SELECT doc_id,
              CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS dl
       FROM documents),
avgdl AS (SELECT sum(dl) / (SELECT c FROM n) AS a FROM dl),
part AS (
  SELECT tf.doc_id, tf.term,
         ln(1.0 + (n.c - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * (1.2 + 1.0))
           / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl.a)) AS s
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
  CROSS JOIN n CROSS JOIN avgdl
  WHERE tf.term IN ('query', 'spark', 'table')
), folded AS (
  SELECT doc_id,
         0.0 + COALESCE(max(CASE WHEN term = 'query' THEN s END), 0.0)
             + COALESCE(max(CASE WHEN term = 'spark' THEN s END), 0.0)
             + COALESCE(max(CASE WHEN term = 'table' THEN s END), 0.0)
           AS bm25
  FROM part GROUP BY 1
)
SELECT d.doc_id, round(COALESCE(f.bm25, 0.0), 6) AS bm25
FROM documents d LEFT JOIN folded f ON d.doc_id = f.doc_id
""",
        # outer CTE names prefixed cc_: DuckDB resolves the embedded
        # pairs query's own CTEs ('e', 'sig', …) against the OUTER scope
        # when names collide
        "dedup_components": _CC_ORACLE_SQL,
        "dedup_components_incremental": _CC_ORACLE_SQL,
        # the alternating large-star/small-star algorithm produces the
        # SAME labeling (component = min reachable node id), so the same
        # transitive-closure oracle verifies it
        "dedup_components_star": _CC_ORACLE_SQL,
        "candidates_stringtagger": _BASE_CTE + """
SELECT conv_id, turn_idx, 0 AS m_start,
       CAST(length(cust) AS INT) AS m_end, cust AS value,
       'CANDIDATE' AS tag FROM base
UNION ALL
SELECT conv_id, turn_idx, CAST(length(cust) + 11 AS INT),
       CAST(length(cust) + 11 + length(supp) AS INT), supp, 'CANDIDATE'
FROM base
UNION ALL
SELECT conv_id, turn_idx, CAST(length(cust) + 15 + length(supp) AS INT),
       CAST(length(cust) + 15 + length(supp) + length(nat) AS INT), nat,
       'CANDIDATE'
FROM base
""",
        # the pipeline dedups identical (conv, turn, s, p, o) tuples — the
        # synthetic lineitem has duplicate (orderkey, linenumber) pairs, so
        # the oracle must DISTINCT too
        "kg_triples": _BASE_CTE + """
SELECT DISTINCT conv_id, turn_idx, cust AS subj, 'works_for' AS pred,
       supp AS obj
FROM base
UNION
SELECT DISTINCT conv_id, turn_idx, supp, 'located_in', nat FROM base
""",
        # gold derived twice from the base tables: the Spark side joins
        # the real PIPELINE output against its copy, so drift breaks the
        # hash on the count/precision/recall columns
        "triple_pr_gate": _BASE_CTE + """
, g AS (
  SELECT DISTINCT conv_id, turn_idx, cust AS subj, 'works_for' AS pred,
         supp AS obj
  FROM base
  UNION
  SELECT DISTINCT conv_id, turn_idx, supp, 'located_in', nat FROM base
)
SELECT CAST(count(*) AS BIGINT) AS n_pred,
       CAST(count(*) AS BIGINT) AS n_gold,
       CAST(count(*) AS BIGINT) AS n_match,
       CAST(1.0 AS DOUBLE) AS precision, CAST(1.0 AS DOUBLE) AS recall,
       CAST(1 AS INT) AS gate_pass
FROM g
""",
        "link_entities": """
SELECT '  supplier s' || CAST(s_suppkey AS VARCHAR) || ' ' AS value,
       'supp:' || CAST(s_suppkey AS VARCHAR) AS entity_id,
       'Supplier S' || CAST(s_suppkey AS VARCHAR) AS canonical,
       'ORG' AS concept
FROM supplier
""",
        "remove_nested": """
WITH RECURSIVE spans AS (
  SELECT 'g' || CAST(l_orderkey AS VARCHAR) AS conv_id,
         CAST((l_linenumber - 1) * 5 AS INT) AS m_start,
         CAST((l_linenumber - 1) * 5 + 1
              + (CAST(l_quantity AS INT) * 7) % 9 AS INT) AS m_end
  FROM lineitem
), ordered AS (
  SELECT conv_id, m_start, m_end,
         row_number() OVER (PARTITION BY conv_id
                            ORDER BY m_start ASC, m_end DESC) AS rn
  FROM spans
), walk AS (
  SELECT conv_id, rn, m_start, m_end, TRUE AS kept, m_end AS last_end
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.conv_id, o.rn, o.m_start, o.m_end,
         o.m_start >= w.last_end AS kept,
         CASE WHEN o.m_start >= w.last_end THEN o.m_end ELSE w.last_end END
  FROM ordered o JOIN walk w ON o.conv_id = w.conv_id AND o.rn = w.rn + 1
)
SELECT conv_id, m_start, m_end FROM walk WHERE kept
""",
        "combine_adjacent": """
WITH spans AS (
  SELECT 'g' || CAST(l_orderkey AS VARCHAR) AS conv_id,
         CAST((l_linenumber - 1) * 6 AS INT) AS m_start,
         CAST((l_linenumber - 1) * 6 + 5 AS INT) AS m_end,
         'w' || CAST(l_linenumber AS VARCHAR) AS value,
         CASE WHEN l_linenumber <= 2 THEN 'A' ELSE 'B' END AS tag
  FROM lineitem
), numbered AS (
  -- fix a total order first: duplicate spans are identical in every column,
  -- and two window operators may permute ties inconsistently otherwise
  SELECT *, row_number() OVER (PARTITION BY conv_id
                               ORDER BY m_start ASC, m_end DESC) AS rn
  FROM spans
), flagged AS (
  SELECT *,
         CASE WHEN lag(m_end) OVER w IS NULL
                OR m_start != lag(m_end) OVER w + 1
                OR lower(tag) != lower(lag(tag) OVER w)
              THEN 1 ELSE 0 END AS new_island
  FROM numbered
  WINDOW w AS (PARTITION BY conv_id ORDER BY rn)
), islands AS (
  SELECT *, sum(new_island) OVER (PARTITION BY conv_id ORDER BY rn
                                  ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
)
SELECT conv_id, CAST(min(m_start) AS INT) AS m_start,
       CAST(max(m_end) AS INT) AS m_end,
       string_agg(value, ' ' ORDER BY m_start, value) AS value,
       min(tag) AS tag
FROM islands GROUP BY conv_id, island
""",
        "dedup_exact": _BASE_CTE + """
SELECT md5(cust || ' works for ' || supp || ' in ' || nat || '.')
         AS fingerprint,
       count(*) AS n_dups
FROM base
GROUP BY 1 HAVING count(*) > 1
""",
        "doc_token_stats": """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
       CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
       CAST(length(text) AS INT) AS n_chars,
       CAST(len(list_filter(string_split(text, ' '),
                            t -> t IN ('the', 'a'))) AS DOUBLE)
         / len(string_split(text, ' ')) AS stopword_ratio
FROM documents
""",
        "doc_fingerprint": """
SELECT doc_id,
       md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
FROM documents
""",
        "similarity_levenshtein": """
SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
       1.0 - CAST(levenshtein(a.p_name, b.p_name) AS DOUBLE)
             / greatest(length(a.p_name), length(b.p_name)) AS lev_sim
FROM part a JOIN part b
  ON a.p_type = b.p_type AND a.p_partkey < b.p_partkey
WHERE 1.0 - CAST(levenshtein(a.p_name, b.p_name) AS DOUBLE)
            / greatest(length(a.p_name), length(b.p_name)) >= 0.5
""",
        "similarity_ngram_dice": """
WITH g AS (
  SELECT p_partkey, p_name, p_brand,
         list_distinct([substr('##' || lower(p_name) || '##', i, 3)
                        for i in range(1, length(p_name) + 3)]) AS grams
  FROM part
)
SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
       round(CASE WHEN lower(a.p_name) = lower(b.p_name) THEN 1.0
                  ELSE 2.0 * len(list_intersect(a.grams, b.grams))
                       / (len(a.grams) + len(b.grams)) END, 6) AS dice_sim
FROM g a JOIN g b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
WHERE round(CASE WHEN lower(a.p_name) = lower(b.p_name) THEN 1.0
                 ELSE 2.0 * len(list_intersect(a.grams, b.grams))
                      / (len(a.grams) + len(b.grams)) END, 6) >= 0.5
""",
        "minhash_signatures": """
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct(
           [array_to_string(ts[i:i+2], ' ')
            for i in range(1, greatest(len(ts) - 2, 1) + 1)])) AS shingle
  FROM tok
)
SELECT doc_id,
       min(('0x' || substr(md5('seed0|' || shingle), 1, 8))::BIGINT) AS minhash_0,
       min(('0x' || substr(md5('seed1|' || shingle), 1, 8))::BIGINT) AS minhash_1,
       min(('0x' || substr(md5('seed2|' || shingle), 1, 8))::BIGINT) AS minhash_2,
       min(('0x' || substr(md5('seed3|' || shingle), 1, 8))::BIGINT) AS minhash_3
FROM sh GROUP BY doc_id
""",
        "ann_cosine_top1": """
WITH pairs AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         -- cast to DOUBLE[]: duckdb computes FLOAT[] cosine in float32,
         -- the Spark side folds in float64
         round(list_cosine_similarity(a.embedding::DOUBLE[],
                                      b.embedding::DOUBLE[]), 4) AS cos_sim
  FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY a_id
                               ORDER BY cos_sim DESC, b_id ASC) AS rn
  FROM pairs
)
SELECT a_id, b_id, cos_sim FROM ranked WHERE rn = 1
""",
        "word_tokenize": _BASE_CTE + """
, m AS (SELECT conv_id, turn_idx, cust, supp, nat,
               length(cust) lc, length(supp) ls, length(nat) ln FROM base)
SELECT conv_id, turn_idx, CAST(0 AS INT) tok_idx, CAST(0 AS INT) tok_start,
       'Customer' AS token FROM m
UNION ALL SELECT conv_id, turn_idx, 1, 9, substr(cust, 10) FROM m
UNION ALL SELECT conv_id, turn_idx, 2, lc + 1, 'works' FROM m
UNION ALL SELECT conv_id, turn_idx, 3, lc + 7, 'for' FROM m
UNION ALL SELECT conv_id, turn_idx, 4, lc + 11, 'Supplier' FROM m
UNION ALL SELECT conv_id, turn_idx, 5, lc + 20, substr(supp, 10) FROM m
UNION ALL SELECT conv_id, turn_idx, 6, lc + ls + 12, 'in' FROM m
UNION ALL SELECT conv_id, turn_idx, 7, lc + ls + 15, 'Nation' FROM m
UNION ALL SELECT conv_id, turn_idx, 8, lc + ls + 22, substr(nat, 8) FROM m
UNION ALL SELECT conv_id, turn_idx, 9, lc + ls + ln + 15, '.' FROM m
""",
        "sentence_split": _BASE_CTE + """
, m AS (SELECT conv_id, turn_idx,
               cust || ' works for ' || supp || ' in ' || nat || '.' AS s1,
               supp || ' is based in ' || nat || '.' AS s2 FROM base)
SELECT conv_id, turn_idx, CAST(0 AS INT) sent_idx, CAST(0 AS INT) sent_start,
       s1 AS sentence FROM m
UNION ALL
SELECT conv_id, turn_idx, 1, CAST(length(s1) + 1 AS INT), s2 FROM m
""",
        "dict_model_train": """
WITH t AS (
  SELECT lang, unnest(list_distinct(list_filter(string_split(text, ' '),
                                                w -> len(w) BETWEEN 3 AND 20)))
           AS term
  FROM documents
)
SELECT term, lang AS category, CAST(count(*) AS DOUBLE) AS count
FROM t GROUP BY 1, 2
""",
        "classify_default": """
WITH t AS (
  SELECT doc_id, lang,
         unnest(list_distinct(list_filter(string_split(text, ' '),
                                          w -> len(w) BETWEEN 3 AND 20))) AS term
  FROM documents
), d AS (
  SELECT term, lang AS cat, CAST(count(*) AS DOUBLE) c FROM t GROUP BY 1, 2
), dt AS (
  SELECT term, sum(c) tot FROM d GROUP BY 1
), s AS (
  SELECT t.doc_id, d.cat, sum((d.c / dt.tot) * (d.c / dt.tot)) sc
  FROM t JOIN d ON t.term = d.term JOIN dt ON t.term = dt.term
  GROUP BY 1, 2
), p AS (
  SELECT doc_id, cat, sc / sum(sc) OVER (PARTITION BY doc_id) prob FROM s
), r AS (
  SELECT doc_id, cat, prob,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY prob DESC, cat ASC) rn
  FROM p
)
SELECT doc_id, cat AS predicted, round(prob, 4) AS prob FROM r WHERE rn = 1
""",
        # BayesScorer(LAPLACE+PRIORS): same algebra as classify_bayes_df —
        # per-doc term FREQUENCIES (not distinct), every (term, category)
        # scored (laplace smooths non-matches), log-inversion normalization
        "classify_bayes": """
WITH tc AS (
  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS doc_count
  FROM (SELECT doc_id,
               unnest(list_filter(string_split(text, ' '),
                                  w -> len(w) BETWEEN 3 AND 20)) AS term
        FROM documents)
  GROUP BY 1, 2
), td AS (
  SELECT doc_id, lang,
         unnest(list_distinct(list_filter(string_split(text, ' '),
                                          w -> len(w) BETWEEN 3 AND 20))) AS term
  FROM documents
), d AS (
  SELECT term, lang AS cat, CAST(count(*) AS DOUBLE) c FROM td GROUP BY 1, 2
), cs AS (
  SELECT cat, sum(c) AS cat_sum FROM d GROUP BY 1
), nu AS (
  SELECT CAST(count(DISTINCT term) AS DOUBLE) AS u FROM d
), pr AS (
  SELECT lang AS cat, CAST(count(*) AS DOUBLE) AS nd FROM documents GROUP BY 1
), tot AS (
  SELECT sum(nd) AS t FROM pr
), sc AS (
  SELECT tc.doc_id, cs.cat,
         sum(tc.doc_count
             * ln((COALESCE(d.c, 0) + 1) / (cs.cat_sum + nu.u))) AS s
  FROM tc CROSS JOIN cs CROSS JOIN nu
  LEFT JOIN d ON d.term = tc.term AND d.cat = cs.cat
  GROUP BY tc.doc_id, cs.cat
), fin AS (
  SELECT sc.doc_id, sc.cat, sc.s + ln(pr.nd / tot.t) AS score
  FROM sc JOIN pr ON sc.cat = pr.cat CROSS JOIN tot
), p AS (
  SELECT doc_id, cat,
         1 - score / sum(score) OVER (PARTITION BY doc_id) AS prob
  FROM fin
), r AS (
  SELECT doc_id, cat, prob,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY prob DESC, cat ASC) rn
  FROM p
)
SELECT doc_id, cat AS predicted, round(prob, 4) AS prob FROM r WHERE rn = 1
""",
        "entity_dict_train": _BASE_CTE + """
SELECT cust AS value, 'PER' AS tag, count(*) AS n FROM base GROUP BY 1
UNION ALL SELECT supp, 'ORG', count(*) FROM base GROUP BY 1
UNION ALL SELECT nat, 'LOC', count(*) FROM base GROUP BY 1
""",
        "case_dictionary": _BASE_CTE + """
SELECT 'works' AS token, count(*) AS n_total, count(*) AS n_lower,
       CAST(1.0 AS DOUBLE) AS prob FROM base
UNION ALL SELECT 'for', count(*), count(*), CAST(1.0 AS DOUBLE) FROM base
UNION ALL SELECT 'in', count(*), count(*), CAST(1.0 AS DOUBLE) FROM base
""",
        "mine_patterns": _BASE_CTE + """
SELECT 'PER' AS subj_type, 'ORG' AS obj_type, 'works for' AS window,
       count(*) AS n FROM base HAVING count(*) >= 2
UNION ALL
SELECT 'ORG', 'LOC', 'in', count(*) FROM base HAVING count(*) >= 2
UNION ALL
SELECT 'PER', 'LOC', 'works for ' || lower(supp) || ' in', count(*)
FROM base GROUP BY 3 HAVING count(*) >= 2
""",
        "cooccurrence": _BASE_CTE + """
, dedup AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY conv_id, turn_idx
      ORDER BY cust || ' works for ' || supp || ' in ' || nat || '.') rn
    FROM base)
  WHERE rn = 1
)
SELECT cust AS left_value, 'CANDIDATE' AS left_tag, supp AS right_value,
       'CANDIDATE' AS right_tag, count(*) AS n FROM dedup GROUP BY 1, 3
UNION ALL SELECT cust, 'CANDIDATE', nat, 'CANDIDATE', count(*)
FROM dedup GROUP BY 1, 3
UNION ALL SELECT supp, 'CANDIDATE', nat, 'CANDIDATE', count(*)
FROM dedup GROUP BY 1, 3
""",
        "cooccurrence_pmi": _BASE_CTE + """
, dedup AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY conv_id, turn_idx
      ORDER BY cust || ' works for ' || supp || ' in ' || nat || '.') rn
    FROM base)
  WHERE rn = 1
),
p AS (SELECT cust AS a, supp AS b, CAST(count(*) AS BIGINT) n_ab
      FROM dedup GROUP BY 1, 2
      UNION ALL SELECT cust, nat, count(*) FROM dedup GROUP BY 1, 2
      UNION ALL SELECT supp, nat, count(*) FROM dedup GROUP BY 1, 2),
pg AS (SELECT a, b, CAST(sum(n_ab) AS BIGINT) n_ab FROM p GROUP BY 1, 2),
tot AS (SELECT CAST(sum(n_ab) AS BIGINT) n_total FROM pg),
marg AS (SELECT e, CAST(sum(n_ab) AS BIGINT) m FROM (
           SELECT a AS e, n_ab FROM pg
           UNION ALL SELECT b, n_ab FROM pg) u GROUP BY e)
SELECT a, b, n_ab, ma.m AS m_a, mb.m AS m_b,
       round(ln(4.0 * n_ab * n_total / (ma.m * mb.m)), 6) + 0.0 AS pmi
FROM pg CROSS JOIN tot
JOIN marg ma ON pg.a = ma.e
JOIN marg mb ON pg.b = mb.e
""",
        "lsh_dedup_pairs": _LSH_PAIRS_SQL,
        "dedup_incremental": """
WITH tok AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
sh AS (
  SELECT doc_id, list_distinct(
           [array_to_string(ts[i:i+2], ' ')
            for i in range(1, greatest(len(ts) - 2, 1) + 1)]) s
  FROM tok
), e AS (SELECT doc_id, unnest(s) shingle FROM sh),
sig AS (
  SELECT doc_id,
    min(('0x' || substr(md5('seed0|' || shingle), 1, 8))::BIGINT) m0,
    min(('0x' || substr(md5('seed1|' || shingle), 1, 8))::BIGINT) m1,
    min(('0x' || substr(md5('seed2|' || shingle), 1, 8))::BIGINT) m2,
    min(('0x' || substr(md5('seed3|' || shingle), 1, 8))::BIGINT) m3,
    min(('0x' || substr(md5('seed4|' || shingle), 1, 8))::BIGINT) m4,
    min(('0x' || substr(md5('seed5|' || shingle), 1, 8))::BIGINT) m5,
    min(('0x' || substr(md5('seed6|' || shingle), 1, 8))::BIGINT) m6,
    min(('0x' || substr(md5('seed7|' || shingle), 1, 8))::BIGINT) m7
  FROM e GROUP BY doc_id
), band AS (
  SELECT doc_id, 0 AS band, m0::VARCHAR || '_' || m1::VARCHAR AS key FROM sig
  UNION ALL SELECT doc_id, 1, m2::VARCHAR || '_' || m3::VARCHAR FROM sig
  UNION ALL SELECT doc_id, 2, m4::VARCHAR || '_' || m5::VARCHAR FROM sig
  UNION ALL SELECT doc_id, 3, m6::VARCHAR || '_' || m7::VARCHAR FROM sig
), cand AS (
  SELECT DISTINCT n.doc_id n_id, b.doc_id b_id
  FROM band n JOIN band b ON n.band = b.band AND n.key = b.key
  WHERE n.doc_id >= 250 AND b.doc_id < 250
), best AS (
  SELECT n_id, b_id, jaccard,
         row_number() OVER (PARTITION BY n_id
                            ORDER BY jaccard DESC, b_id ASC) rn
  FROM (
    SELECT n_id, b_id,
           round(len(list_intersect(x.s, y.s))::DOUBLE
                 / len(list_distinct(list_concat(x.s, y.s))), 6) jaccard
    FROM cand JOIN sh x ON n_id = x.doc_id JOIN sh y ON b_id = y.doc_id)
  WHERE jaccard >= 0.2
)
SELECT d.doc_id,
       md5(d.text) IN (SELECT md5(text) FROM documents
                       WHERE doc_id < 250) AS dup_exact,
       best.b_id AS near_dup_of, best.jaccard
FROM documents d
LEFT JOIN (SELECT * FROM best WHERE rn = 1) best ON d.doc_id = best.n_id
WHERE d.doc_id >= 250
""",
        "simhash": """
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) token
  FROM documents
), v AS (
  SELECT doc_id, ('0x' || substr(md5('seed0|' || token), 1, 8))::BIGINT h
  FROM tok
), bits AS (
  SELECT doc_id, k,
         sum(CASE WHEN (h >> k) & 1 = 1 THEN 1 ELSE -1 END) vote
  FROM v, range(0, 16) t(k) GROUP BY 1, 2
)
SELECT doc_id,
       CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << k) ELSE 0 END)
            AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
""",
        # brute-force all-pairs Hamming ≤ 3: equality with the banded
        # Spark side proves the banding's pigeonhole recall guarantee
        "simhash_neardup": """
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) token
  FROM documents
), v AS (
  SELECT doc_id, ('0x' || substr(md5('seed0|' || token), 1, 8))::BIGINT h
  FROM tok
), bits AS (
  SELECT doc_id, k,
         sum(CASE WHEN (h >> k) & 1 = 1 THEN 1 ELSE -1 END) vote
  FROM v, range(0, 32) t(k) GROUP BY 1, 2
), fp AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << k) ELSE 0 END)
              AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
)
SELECT a.doc_id a_id, b.doc_id b_id,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""",
        "ngram_jaccard_neardup": """
WITH g AS (
  SELECT doc_id, CAST(floor(length(text) / 50) AS INT) bk,
         list_distinct([substr('##' || lower(text) || '##', i, 3)
                        for i in range(1, length(text) + 3)]) gr
  FROM documents
)
SELECT a.doc_id a_id, b.doc_id b_id,
       round(len(list_intersect(a.gr, b.gr))::DOUBLE
             / len(list_distinct(list_concat(a.gr, b.gr))), 6) AS jaccard
FROM g a JOIN g b ON a.bk = b.bk AND a.doc_id < b.doc_id
WHERE round(len(list_intersect(a.gr, b.gr))::DOUBLE
            / len(list_distinct(list_concat(a.gr, b.gr))), 6) >= 0.5
""",
        # with gold = customer+supplier spans only, the retrain's ERROR1
        # set is exactly the nation mentions → remove set = their
        # lowercased surfaces (never gold values)
        "complete_retrain_removed": """
SELECT DISTINCT 'nation n' || CAST(s.s_nationkey AS VARCHAR) AS remove_value
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey  = s.s_suppkey
""",
        "cooccurrence_document": _BASE_CTE + """
, e AS (
  SELECT DISTINCT conv_id, v, t FROM (
    SELECT conv_id, cust AS v, 'PER' AS t FROM base
    UNION ALL SELECT conv_id, supp, 'ORG' FROM base
    UNION ALL SELECT conv_id, nat, 'LOC' FROM base)
)
SELECT a.v AS left_value, a.t AS left_tag,
       b.v AS right_value, b.t AS right_tag, count(*) AS n
FROM e a JOIN e b ON a.conv_id = b.conv_id AND a.v < b.v
GROUP BY 1, 2, 3, 4
""",
        # fake decode's frame count recomputed from the payload sha
        # (byte 2 of sha256 over the utf8 text), stride-10 sampling
        "frame_samples": """
WITH m AS (
  SELECT doc_id AS media_id,
         1 + CAST('0x' || substr(sha256(text), 5, 2) AS INT) % 64 AS n_frames
  FROM documents WHERE doc_id % 3 = 2
)
SELECT media_id,
       CAST(unnest(range(0, CAST(n_frames AS BIGINT), 10)) AS INT)
         AS frame_idx
FROM m
""",
        "evaluation_counts": _BASE_CTE + """
, dedup AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY conv_id, turn_idx
      ORDER BY cust || ' works for ' || supp || ' in ' || nat || '.') rn
    FROM base)
  WHERE rn = 1
), n AS (SELECT CAST(count(*) AS BIGINT) c FROM dedup)
SELECT 'CORRECT' AS category, c AS n FROM n
UNION ALL SELECT 'ERROR1', c FROM n
UNION ALL SELECT 'ERROR2', c FROM n
UNION ALL SELECT 'ERROR3', c FROM n
UNION ALL SELECT 'ERROR4', CAST(0 AS BIGINT) FROM n
UNION ALL SELECT 'ERROR5', CAST(0 AS BIGINT) FROM n
""",
        "conversation_stats": _BASE_CTE.replace(
            "SELECT 'conv-'",
            """SELECT l.l_linenumber AS ln, l.l_shipdate AS ts,
         'conv-'""") + """
SELECT conv_id, count(*) AS n_turns,
       sum(CASE WHEN ln % 2 <> 0 THEN 1 ELSE 0 END) AS n_user,
       sum(CASE WHEN ln % 2 = 0 THEN 1 ELSE 0 END) AS n_assistant,
       CAST(min(ts) AS DATE) AS first_ts, CAST(max(ts) AS DATE) AS last_ts,
       CAST(round(CAST(sum(length(cust) + length(supp) + length(nat) + 16)
                       AS DOUBLE) * 10000 / count(*)) AS BIGINT)
         AS avg_chars
FROM base GROUP BY 1
""",
        "real_sentences": """
SELECT 'r' || CAST(o_orderkey AS VARCHAR) AS conv_id,
       CAST(0 AS INT) AS turn_idx, CAST(0 AS INT) AS sent_idx,
       CAST(0 AS INT) AS sent_start,
       'Shipped order O' || CAST(o_orderkey AS VARCHAR)
         || ' to the depot on time.' AS sentence
FROM orders
""",
        # digit masking collapses same-digit-length keys onto one boundary
        # context: 'C§§ works for' / 'S§ in' with per-length turn counts;
        # lowercase-starting windows are filtered by the builder
        "left_contexts": _BASE_CTE + """
, dedup AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY conv_id, turn_idx
      ORDER BY cust || ' works for ' || supp || ' in ' || nat || '.') rn
    FROM base)
  WHERE rn = 1
), ctxs AS (
  SELECT 'C' || repeat('§', length(cust) - 10) || ' works for'
           AS left_context, count(*) AS n_outside
  FROM dedup GROUP BY 1
  UNION ALL
  SELECT 'S' || repeat('§', length(supp) - 10) || ' in', count(*)
  FROM dedup GROUP BY 1
  UNION ALL
  SELECT 'Supplier S' || repeat('§', length(supp) - 10) || ' in', count(*)
  FROM dedup GROUP BY 1
)
SELECT left_context, n_outside, CAST(0 AS BIGINT) AS n_inside
FROM ctxs WHERE n_outside >= 2
""",
        # ±40-char mention contexts reconstructed analytically, 5-gram
        # counts replayed in SQL (no distinct — the builder counts every
        # gram occurrence)
        "context_dictionary": _BASE_CTE + """
, dedup AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY conv_id, turn_idx
      ORDER BY cust || ' works for ' || supp || ' in ' || nat || '.') rn
    FROM base)
  WHERE rn = 1
), m AS (
  SELECT cust || ' works for ' || supp || ' in ' || nat || '.' AS text,
         length(cust) lc, length(supp) ls, length(nat) ln
  FROM dedup
), ctx AS (
  SELECT 'PER' AS category,
         trim(substr(text, 1, 0)) || '__' || trim(substr(text, lc+1, 40)) AS c
  FROM m
  UNION ALL
  SELECT 'ORG',
         trim(substr(text, greatest(lc+11-40, 0)+1,
                     lc+11 - greatest(lc+11-40, 0)))
           || '__' || trim(substr(text, lc+11+ls+1, 40))
  FROM m
  UNION ALL
  SELECT 'LOC',
         trim(substr(text, greatest(lc+15+ls-40, 0)+1,
                     lc+15+ls - greatest(lc+15+ls-40, 0)))
           || '__' || trim(substr(text, lc+15+ls+ln+1, 40))
  FROM m
), g AS (
  SELECT category,
         unnest([substr(lower(c), CAST(i AS INT), 5)
                 FOR i IN range(1, greatest(len(c) - 3, 1))]) AS term
  FROM ctx
)
SELECT term, category, count(*) AS n FROM g GROUP BY 1, 2
""",
        "word_skipgrams": _BASE_CTE + """
, dedup AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY conv_id, turn_idx
      ORDER BY cust || ' works for ' || supp || ' in ' || nat || '.') rn
    FROM base)
  WHERE rn = 1
), m AS (SELECT conv_id, turn_idx, cust, supp, nat FROM dedup),
tk AS (
  SELECT conv_id, turn_idx, CAST(0 AS INT) AS tok_idx, 'Customer' AS token FROM m
  UNION ALL SELECT conv_id, turn_idx, 1, substr(cust, 10) FROM m
  UNION ALL SELECT conv_id, turn_idx, 2, 'works' FROM m
  UNION ALL SELECT conv_id, turn_idx, 3, 'for' FROM m
  UNION ALL SELECT conv_id, turn_idx, 4, 'Supplier' FROM m
  UNION ALL SELECT conv_id, turn_idx, 5, substr(supp, 10) FROM m
  UNION ALL SELECT conv_id, turn_idx, 6, 'in' FROM m
  UNION ALL SELECT conv_id, turn_idx, 7, 'Nation' FROM m
  UNION ALL SELECT conv_id, turn_idx, 8, substr(nat, 8) FROM m
  UNION ALL SELECT conv_id, turn_idx, 9, '.' FROM m
), led AS (
  SELECT conv_id, turn_idx, tok_idx, token,
         lead(token, 1) OVER w AS t1, lead(token, 2) OVER w AS t2
  FROM tk
  WINDOW w AS (PARTITION BY conv_id, turn_idx ORDER BY tok_idx)
)
SELECT conv_id, turn_idx, tok_idx, CAST(1 AS INT) AS n, 'gram' AS kind,
       token AS gram FROM led
UNION ALL SELECT conv_id, turn_idx, tok_idx, 2, 'gram',
       token || ' ' || t1 FROM led WHERE t1 IS NOT NULL
UNION ALL SELECT conv_id, turn_idx, tok_idx, 3, 'gram',
       token || ' ' || t1 || ' ' || t2 FROM led WHERE t2 IS NOT NULL
UNION ALL SELECT conv_id, turn_idx, tok_idx, 3, 'skip',
       token || ' ' || t2 FROM led WHERE t2 IS NOT NULL
""",
        # expected dates reconstructed analytically from the deterministic
        # text template: 'Order logged <rfc> confirmed <iso> eu <eu> us
        # <us> on <long> ok' (offsets via prefix-length arithmetic)
        "dates_tagged": """
WITH base AS (
  SELECT 'd' || CAST(o_orderkey AS VARCHAR) AS conv_id,
         CAST(o_orderdate AS DATE) AS d0, o_orderkey, o_custkey
  FROM orders
), r AS (
  SELECT conv_id,
    list_extract(['Sun','Mon','Tue','Wed','Thu','Fri','Sat'],
                 dayofweek(d0+4)+1)
      || ', ' || lpad(CAST(day(d0+4) AS VARCHAR),2,'0') || ' '
      || list_extract(['Jan','Feb','Mar','Apr','May','Jun','Jul','Aug',
                       'Sep','Oct','Nov','Dec'], month(d0+4))
      || ' ' || CAST(year(d0+4) AS VARCHAR) || ' '
      || lpad(CAST(o_custkey % 24 AS VARCHAR),2,'0')
      || ':' || lpad(CAST(o_orderkey % 60 AS VARCHAR),2,'0')
      || ':' || lpad(CAST((o_orderkey*7) % 60 AS VARCHAR),2,'0')
      || ' GMT' AS rfc,
    CAST(year(d0) AS VARCHAR) || '-' || lpad(CAST(month(d0) AS VARCHAR),2,'0')
      || '-' || lpad(CAST(day(d0) AS VARCHAR),2,'0') AS iso,
    CAST(day(d0+1) AS VARCHAR) || '.' || CAST(month(d0+1) AS VARCHAR)
      || '.' || CAST(year(d0+1) AS VARCHAR) AS eu,
    CAST(month(d0+2) AS VARCHAR) || '/' || CAST(day(d0+2) AS VARCHAR)
      || '/' || CAST(year(d0+2) AS VARCHAR) AS us,
    list_extract(['January','February','March','April','May','June','July',
                  'August','September','October','November','December'],
                 month(d0+3))
      || ' ' || CAST(day(d0+3) AS VARCHAR) || ', '
      || CAST(year(d0+3) AS VARCHAR) AS lng
  FROM base
), pos AS (
  SELECT conv_id, rfc, iso, eu, us, lng,
         13 AS rfc_start,
         13 + length(rfc) + 11 AS iso_start,
         13 + length(rfc) + 11 + 10 + 4 AS eu_start,
         13 + length(rfc) + 11 + 10 + 4 + length(eu) + 4 AS us_start,
         13 + length(rfc) + 11 + 10 + 4 + length(eu) + 4
            + length(us) + 4 AS long_start
  FROM r
)
SELECT conv_id, 0 AS turn_idx, rfc AS value,
       'WD, DD MMM YYYY HH:MM:SS TZ' AS fmt,
       CAST(rfc_start AS INT) AS m_start FROM pos
UNION ALL
SELECT conv_id, 0, iso, 'YYYY-MM-DD', CAST(iso_start AS INT) FROM pos
UNION ALL
SELECT conv_id, 0, eu, 'DD.MM.YYYY', CAST(eu_start AS INT) FROM pos
UNION ALL
SELECT conv_id, 0, us, 'MM/DD/YYYY', CAST(us_start AS INT) FROM pos
UNION ALL
SELECT conv_id, 0, lng, 'MMMM DD, YYYY', CAST(long_start AS INT) FROM pos
""",
        # same analytic construction as dates_tagged, extended with the
        # expected calendar fields per format (RFC carries time + GMT;
        # the four date-only formats leave time NULL)
        "dates_normalized": """
WITH base AS (
  SELECT 'd' || CAST(o_orderkey AS VARCHAR) AS conv_id,
         CAST(o_orderdate AS DATE) AS d0, o_orderkey, o_custkey
  FROM orders
), r AS (
  SELECT conv_id, d0, o_orderkey, o_custkey,
    list_extract(['Sun','Mon','Tue','Wed','Thu','Fri','Sat'],
                 dayofweek(d0+4)+1)
      || ', ' || lpad(CAST(day(d0+4) AS VARCHAR),2,'0') || ' '
      || list_extract(['Jan','Feb','Mar','Apr','May','Jun','Jul','Aug',
                       'Sep','Oct','Nov','Dec'], month(d0+4))
      || ' ' || CAST(year(d0+4) AS VARCHAR) || ' '
      || lpad(CAST(o_custkey % 24 AS VARCHAR),2,'0')
      || ':' || lpad(CAST(o_orderkey % 60 AS VARCHAR),2,'0')
      || ':' || lpad(CAST((o_orderkey*7) % 60 AS VARCHAR),2,'0')
      || ' GMT' AS rfc,
    CAST(year(d0) AS VARCHAR) || '-' || lpad(CAST(month(d0) AS VARCHAR),2,'0')
      || '-' || lpad(CAST(day(d0) AS VARCHAR),2,'0') AS iso,
    CAST(day(d0+1) AS VARCHAR) || '.' || CAST(month(d0+1) AS VARCHAR)
      || '.' || CAST(year(d0+1) AS VARCHAR) AS eu,
    CAST(month(d0+2) AS VARCHAR) || '/' || CAST(day(d0+2) AS VARCHAR)
      || '/' || CAST(year(d0+2) AS VARCHAR) AS us,
    list_extract(['January','February','March','April','May','June','July',
                  'August','September','October','November','December'],
                 month(d0+3))
      || ' ' || CAST(day(d0+3) AS VARCHAR) || ', '
      || CAST(year(d0+3) AS VARCHAR) AS lng
  FROM base
), pos AS (
  SELECT *,
         13 AS rfc_start,
         13 + length(rfc) + 11 AS iso_start,
         13 + length(rfc) + 11 + 10 + 4 AS eu_start,
         13 + length(rfc) + 11 + 10 + 4 + length(eu) + 4 AS us_start,
         13 + length(rfc) + 11 + 10 + 4 + length(eu) + 4
            + length(us) + 4 AS long_start
  FROM r
)
SELECT conv_id, 0 AS turn_idx, rfc AS value,
       'WD, DD MMM YYYY HH:MM:SS TZ' AS fmt,
       CAST(rfc_start AS INT) AS m_start,
       CAST(year(d0+4) AS INT) AS year, CAST(month(d0+4) AS INT) AS month,
       CAST(day(d0+4) AS INT) AS day,
       CAST(o_custkey % 24 AS INT) AS hour,
       CAST(o_orderkey % 60 AS INT) AS minute,
       CAST((o_orderkey*7) % 60 AS INT) AS second,
       'GMT' AS tz
FROM pos
UNION ALL
SELECT conv_id, 0, iso, 'YYYY-MM-DD', CAST(iso_start AS INT),
       CAST(year(d0) AS INT), CAST(month(d0) AS INT), CAST(day(d0) AS INT),
       NULL, NULL, NULL, NULL FROM pos
UNION ALL
SELECT conv_id, 0, eu, 'DD.MM.YYYY', CAST(eu_start AS INT),
       CAST(year(d0+1) AS INT), CAST(month(d0+1) AS INT),
       CAST(day(d0+1) AS INT), NULL, NULL, NULL, NULL FROM pos
UNION ALL
SELECT conv_id, 0, us, 'MM/DD/YYYY', CAST(us_start AS INT),
       CAST(year(d0+2) AS INT), CAST(month(d0+2) AS INT),
       CAST(day(d0+2) AS INT), NULL, NULL, NULL, NULL FROM pos
UNION ALL
SELECT conv_id, 0, lng, 'MMMM DD, YYYY', CAST(long_start AS INT),
       CAST(year(d0+3) AS INT), CAST(month(d0+3) AS INT),
       CAST(day(d0+3) AS INT), NULL, NULL, NULL, NULL FROM pos
""",
        "embedding_neardup": """
SELECT a.vec_id a_id, b.vec_id b_id,
       round(list_cosine_similarity(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]), 4) AS cos_sim
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                   b.embedding::DOUBLE[]), 4) >= 0.3
""",
        # char-4-gram dictionary-classifier language ID (same DefaultScorer
        # algebra as classify_default, terms = distinct char 4-grams)
        "lang_id": """
WITH t AS (
  SELECT doc_id, lang,
         unnest(list_distinct([substr(s, CAST(i AS INT), 4)
                               FOR i IN range(1, greatest(len(s) - 2, 1))]))
           AS term
  FROM (SELECT doc_id, lang, lower(text) AS s FROM documents)
), d AS (
  SELECT term, lang AS cat, CAST(count(*) AS DOUBLE) c FROM t GROUP BY 1, 2
), dt AS (
  SELECT term, sum(c) tot FROM d GROUP BY 1
), s AS (
  SELECT t.doc_id, d.cat, sum((d.c / dt.tot) * (d.c / dt.tot)) sc
  FROM t JOIN d ON t.term = d.term JOIN dt ON t.term = dt.term
  GROUP BY 1, 2
), p AS (
  SELECT doc_id, cat, sc / sum(sc) OVER (PARTITION BY doc_id) prob FROM s
), r AS (
  SELECT doc_id, cat, prob,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY prob DESC, cat ASC) rn
  FROM p
)
SELECT doc_id, cat AS lang_pred, round(prob, 4) AS lang_prob
FROM r WHERE rn = 1
""",
        "quality_scores": """
WITH t AS (
  SELECT doc_id, text, string_split(text, ' ') ts, length(text) nc
  FROM documents
), r AS (
  SELECT doc_id,
    len(ts) nt,
    len(list_distinct(ts))::DOUBLE / len(ts) dr,
    len(list_filter(ts, x -> x IN ('the','a','and','of')))::DOUBLE / len(ts) sr,
    (nc - length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')))::DOUBLE / nc nar,
    (nc - (len(ts) - 1))::DOUBLE / len(ts) mtl
  FROM t
)
SELECT doc_id, CAST(nt AS INT) n_tokens,
       round(dr, 6) distinct_ratio, round(sr, 6) stopword_ratio,
       round(nar, 6) nonalpha_ratio, round(mtl, 6) mean_token_len,
       round(dr * (1.0 - nar)
             * CASE WHEN sr >= 0.05 AND sr <= 0.6 THEN 1.0 ELSE 0.5 END,
             6) quality
FROM r
""",
        "quality_outliers": """
WITH t AS (
  SELECT doc_id, lang, text, string_split(text, ' ') ts,
         length(text) nc
  FROM documents
), r AS (
  SELECT doc_id, lang,
    len(list_distinct(ts))::DOUBLE / len(ts) dr,
    len(list_filter(ts, x -> x IN ('the','a','and','of')))::DOUBLE
      / len(ts) sr,
    (nc - length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')))::DOUBLE
      / nc nar
  FROM t
), q AS (
  SELECT doc_id, lang,
         round(dr * (1.0 - nar)
               * CASE WHEN sr >= 0.05 AND sr <= 0.6
                      THEN 1.0 ELSE 0.5 END, 6) AS quality
  FROM r
), g AS (
  SELECT lang, count(*) n,
         CAST(sum(CAST(quality AS DECIMAL(18,9))) AS DOUBLE) s,
         CAST(sum(CAST(CAST(quality AS DECIMAL(18,9))
                       * CAST(quality AS DECIMAL(18,9))
                       AS DECIMAL(38,18))) AS DOUBLE) ss
  FROM q GROUP BY 1
), st AS (
  SELECT lang, s / n AS m,
         sqrt(greatest(ss / n - (s / n) * (s / n), 0.0)) AS sd
  FROM g
)
SELECT q.doc_id, q.lang, q.quality,
       round(CASE WHEN st.sd > 0 THEN (q.quality - st.m) / st.sd
                  ELSE 0.0 END, 4) AS z_score,
       abs(round(CASE WHEN st.sd > 0 THEN (q.quality - st.m) / st.sd
                      ELSE 0.0 END, 4)) > 2.0 AS is_outlier
FROM q JOIN st USING (lang)
""",
        "corpus_stats": """
WITH t AS (
  SELECT lang, len(string_split(text, ' ')) AS nt FROM documents
)
SELECT lang, count(*) AS n_docs,
       round(quantile_cont(nt, 0.25), 6) AS p25_tokens,
       round(quantile_cont(nt, 0.5), 6) AS p50_tokens,
       round(quantile_cont(nt, 0.75), 6) AS p75_tokens,
       round(quantile_cont(nt, 0.95), 6) AS p95_tokens,
       round(CAST(sum(CAST(nt AS DECIMAL(38,9))) AS DOUBLE) / count(*), 6)
         AS mean_tokens,
       max(nt) AS max_tokens
FROM t GROUP BY lang
""",
        "bpe_token_counts": """
SELECT doc_id,
  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))
       AS INT) n_bpe_tokens,
  CAST(len(string_split(text, ' ')) AS INT) n_ws_tokens,
  CAST(len(list_distinct(regexp_extract_all(lower(text),
                                            '[a-z]+|[0-9]+|[^a-z0-9 ]')))
       AS INT) n_distinct_bpe
FROM documents
""",
        "rolling_fingerprints": """
WITH tok AS (
  SELECT doc_id, string_split(lower(text), ' ') ts FROM documents
), sh AS (
  SELECT doc_id,
         [array_to_string(ts[i:i+7], ' ')
          for i in range(1, greatest(len(ts) - 7, 1) + 1)] ss
  FROM tok
), h AS (
  SELECT doc_id,
         list_distinct(list_filter(
           list_transform(ss, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT),
           x -> x % 16 = 0)) hs
  FROM sh
)
SELECT doc_id, unnest(hs) AS fingerprint FROM h
""",
        "sessionize_events": """
WITH o AS (
  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             THEN 1 ELSE 0 END ns
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) sid
  FROM o
)
SELECT user_id, CAST(sid AS BIGINT) AS session_id,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(38,9))) AS DOUBLE), 6)
         AS total_value
FROM s GROUP BY 1, 2
""",
        "event_windows": """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
       time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS window_end,
       event_type, count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(38,9))) AS DOUBLE), 6)
         AS total_value
FROM events GROUP BY 1, 2, 3
""",
        "user_activity": """
SELECT user_id, count(*) AS n_events,
       count(DISTINCT event_type) AS n_event_types,
       min(ts) AS first_seen, max(ts) AS last_seen,
       round(CAST(sum(CAST(value AS DECIMAL(38,9))) AS DOUBLE), 6)
         AS total_value
FROM events GROUP BY 1
""",
        "gazetteer_scan": _BASE_CTE + """
, dedup AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY conv_id, turn_idx
      ORDER BY cust || ' works for ' || supp || ' in ' || nat || '.') rn
    FROM base)
  WHERE rn = 1
)
SELECT conv_id, turn_idx, 0 AS m_start,
       CAST(length(cust) AS INT) AS m_end, cust AS value, 'PER' AS tag
FROM dedup
UNION ALL
SELECT conv_id, turn_idx, CAST(length(cust) + 11 AS INT),
       CAST(length(cust) + 11 + length(supp) AS INT), supp, 'ORG'
FROM dedup
UNION ALL
SELECT conv_id, turn_idx, CAST(length(cust) + 15 + length(supp) AS INT),
       CAST(length(cust) + 15 + length(supp) + length(nat) AS INT), nat,
       'LOC'
FROM dedup
""",
        "pos_tag": _BASE_CTE + """
, m AS (SELECT conv_id, turn_idx, cust, supp, nat,
               length(cust) lc, length(supp) ls, length(nat) ln FROM base)
SELECT conv_id, turn_idx, CAST(0 AS INT) tok_idx, CAST(0 AS INT) tok_start,
       'Customer' AS token, 'NNP' AS pos FROM m
UNION ALL SELECT conv_id, turn_idx, 1, 9, substr(cust, 10), 'NNP' FROM m
UNION ALL SELECT conv_id, turn_idx, 2, lc + 1, 'works', 'VBZ' FROM m
UNION ALL SELECT conv_id, turn_idx, 3, lc + 7, 'for', 'IN' FROM m
UNION ALL SELECT conv_id, turn_idx, 4, lc + 11, 'Supplier', 'NNP' FROM m
UNION ALL SELECT conv_id, turn_idx, 5, lc + 20, substr(supp, 10), 'NNP' FROM m
UNION ALL SELECT conv_id, turn_idx, 6, lc + ls + 12, 'in', 'IN' FROM m
UNION ALL SELECT conv_id, turn_idx, 7, lc + ls + 15, 'Nation', 'NNP' FROM m
UNION ALL SELECT conv_id, turn_idx, 8, lc + ls + 22, substr(nat, 8), 'NNP' FROM m
UNION ALL SELECT conv_id, turn_idx, 9, lc + ls + ln + 15, '.', '.' FROM m
""",
        "pos_tag_clf": _pos_clf_oracle_sql(),
        "np_chunks": _BASE_CTE + """
, dedup AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY conv_id, turn_idx
      ORDER BY cust || ' works for ' || supp || ' in ' || nat || '.') rn
    FROM base)
  WHERE rn = 1
), m AS (SELECT conv_id, turn_idx, cust, supp, nat,
               length(cust) lc, length(supp) ls, length(nat) ln FROM dedup)
SELECT conv_id, turn_idx, CAST(0 AS INT) chunk_start, CAST(lc AS INT)
         chunk_end, cust AS phrase, 'NP' AS chunk_tag FROM m
UNION ALL SELECT conv_id, turn_idx, lc + 11, lc + 11 + ls, supp, 'NP' FROM m
UNION ALL SELECT conv_id, turn_idx, lc + ls + 15, lc + ls + 15 + ln, nat,
       'NP' FROM m
""",
        "multimodal_meta": """
WITH m AS (
  SELECT doc_id, text,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
              WHEN 1 THEN 'audio' ELSE 'video' END mt,
         sha256(text) sha
  FROM documents
), b AS (
  SELECT *, ('0x' || substr(sha, 1, 2))::INT h0,
            ('0x' || substr(sha, 3, 2))::INT h1,
            ('0x' || substr(sha, 5, 2))::INT h2
  FROM m
)
SELECT doc_id AS media_id, mt AS media_type,
       CAST(length(text) AS INT) AS payload_len, sha,
       CAST(CASE WHEN mt = 'audio' THEN 0 ELSE 64 + h0 % 192 END AS INT)
         AS width,
       CAST(CASE WHEN mt = 'audio' THEN 0 ELSE 64 + h1 % 192 END AS INT)
         AS height,
       CAST(CASE WHEN mt = 'image' THEN 1 ELSE 1 + h2 % 64 END AS INT)
         AS n_frames
FROM b
""",
    }
    # the incremental triangle path must equal the full-graph
    # recompute exactly, so it shares kg_triangles' oracle
    out["kg_triangles_incremental"] = out["kg_triangles"]
    return out
