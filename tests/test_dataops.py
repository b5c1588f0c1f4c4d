"""Tests for the training-data-pipeline operators (dedup, text quality,
similarity search, multimodal plumbing) and the distributed classifier
(train_df) — including Python↔relational equivalence checks."""

import math

import pytest

from pyspark.sql import functions as F

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog again and again", "en"),
    (1, "the quick brown fox jumps over the lazy dog again and again", "en"),  # exact dup
    (2, "the quick brown fox jumps over the lazy cat again and again", "en"),  # near dup
    (3, "der hund ist nicht mit der katze und der maus", "de"),
    (4, "le chat est pas avec le chien pour une maison", "fr"),
    (5, "completely different words about spark query engines here table", "en"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, lang string")


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def test_minhash_dedup_finds_near_dup(spark, docs_df):
    from palladian_spark.operators.dedup import minhash_dedup_pairs
    pairs = {(r["a_id"], r["b_id"]): r["jaccard"]
             for r in minhash_dedup_pairs(docs_df, threshold=0.2).collect()}
    assert pairs[(0, 1)] == 1.0           # exact dup always collides
    # doc 5 shares nothing — must not appear
    assert not any(5 in p for p in pairs)


def test_simhash_close_for_near_dups(spark, docs_df):
    from palladian_spark.operators.dedup import simhash
    fp = {r["doc_id"]: r["simhash"] for r in simhash(docs_df).collect()}
    assert fp[0] == fp[1]                 # identical docs → identical hash
    ham_near = bin(fp[0] ^ fp[2]).count("1")
    ham_far = bin(fp[0] ^ fp[5]).count("1")
    assert ham_near < ham_far             # near dup closer than unrelated


def test_ngram_jaccard_pairs(spark, docs_df):
    from palladian_spark.operators.dedup import ngram_jaccard_pairs
    pairs = {(r["a_id"], r["b_id"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs_df, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs                # one-word change stays above 0.5


def test_embedding_neardup_pairs(spark):
    from palladian_spark.operators.dedup import embedding_neardup_pairs
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.99, 0.14, 0.0]), (2, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>")
    pairs = {(r["a_id"], r["b_id"]): r["cos_sim"]
             for r in embedding_neardup_pairs(emb, threshold=0.9).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.98
    assert (0, 2) not in pairs


# ---------------------------------------------------------------------------
# text quality
# ---------------------------------------------------------------------------

def test_language_id(spark, docs_df):
    from palladian_spark.operators.text_quality import language_id
    got = {r["doc_id"]: r["lang_pred"] for r in language_id(docs_df).collect()}
    assert got[0] == "en" and got[3] == "de" and got[4] == "fr"


def test_quality_scores(spark, docs_df):
    from palladian_spark.operators.text_quality import quality_scores
    rows = {r["doc_id"]: r for r in quality_scores(docs_df).collect()}
    r0 = rows[0]
    assert r0["n_tokens"] == 12
    # "the" twice + "and" once + "again" not a stopword → 3/12
    assert r0["stopword_ratio"] == pytest.approx(3 / 12, abs=1e-6)
    assert 0.0 < r0["quality"] <= 1.0
    # exact-dup doc has identical metrics
    assert rows[1]["quality"] == r0["quality"]


def test_bpe_token_counts(spark):
    from palladian_spark.operators.text_quality import bpe_token_counts
    df = spark.createDataFrame([(0, "abc12 de-f")], "doc_id long, text string")
    r = bpe_token_counts(df).collect()[0]
    # abc | 12 | de | - | f
    assert r["n_bpe_tokens"] == 5
    assert r["n_ws_tokens"] == 2


def test_rolling_fingerprints_deterministic(spark, docs_df):
    from palladian_spark.operators.text_quality import rolling_fingerprints
    a = sorted((r["doc_id"], r["fingerprint"])
               for r in rolling_fingerprints(docs_df).collect())
    b = sorted((r["doc_id"], r["fingerprint"])
               for r in rolling_fingerprints(docs_df).collect())
    assert a == b
    # identical docs share identical fingerprint sets
    fp0 = {f for d, f in a if d == 0}
    fp1 = {f for d, f in a if d == 1}
    assert fp0 == fp1


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------

def test_multimodal_metadata_roundtrip(spark, docs_df):
    from palladian_spark.operators.multimodal import (
        decode_stub, extract_media_metadata, synthesize_media)
    media = synthesize_media(docs_df)
    meta = {r["media_id"]: r for r in extract_media_metadata(media).collect()}
    assert len(meta) == len(DOCS)
    for doc_id, text, _ in DOCS:
        m = meta[doc_id]
        assert m["payload_len"] == len(text.encode())
        expected = decode_stub(text.encode(), m["media_type"])
        assert (m["width"], m["height"], m["n_frames"]) == (
            expected["width"], expected["height"], expected["n_frames"])
    # audio rows have no dimensions
    assert all(m["width"] == 0 for m in meta.values()
               if m["media_type"] == "audio")


def test_sample_frames_only_video(spark, docs_df):
    from palladian_spark.operators.multimodal import (
        sample_frames_stub, synthesize_media)
    frames = sample_frames_stub(synthesize_media(docs_df), every_n=5).collect()
    video_ids = {d for d, _, _ in DOCS if d % 3 == 2}
    assert {r["media_id"] for r in frames} == video_ids
    assert all(r["frame_idx"] % 5 == 0 for r in frames)


def test_decode_stub_unknown_type():
    from palladian_spark.operators.multimodal import decode_stub
    with pytest.raises(NotImplementedError):
        decode_stub(b"x", "hologram")


# ---------------------------------------------------------------------------
# distributed classifier ≡ Python classifier
# ---------------------------------------------------------------------------

def test_build_dictionary_df_matches_python(spark, docs_df):
    from palladian_spark.classification.dictionary import (
        DictionaryBuilder, FeatureSetting)
    from palladian_spark.classification.train_df import build_dictionary_df
    setting = FeatureSetting.words(1)
    builder = DictionaryBuilder(setting)
    for _, text, lang in DOCS:
        builder.add_text(text, lang)
    model = builder.create()
    expected = {(t, c): n for t, cats in model.terms.items()
                for c, n in cats.items()}
    got = {(r["term"], r["category"]): r["count"]
           for r in build_dictionary_df(docs_df, "lang").collect()}
    assert got == expected


def test_classify_df_matches_python(spark, docs_df):
    from palladian_spark.classification.dictionary import (
        DictionaryBuilder, FeatureSetting, classify, most_likely)
    from palladian_spark.classification.train_df import (
        build_dictionary_df, category_priors_df, classify_df)
    setting = FeatureSetting.words(1)
    builder = DictionaryBuilder(setting)
    for _, text, lang in DOCS:
        builder.add_text(text, lang)
    model = builder.create()

    d = build_dictionary_df(docs_df, "lang")
    p = category_priors_df(docs_df, "lang")
    got = {r["doc_id"]: (r["predicted"], r["prob"])
           for r in classify_df(docs_df, d, p, ["doc_id"],
                                round_decimals=6).collect()}
    for doc_id, text, _ in DOCS:
        cat, prob = most_likely(classify(text, model))
        assert got[doc_id][0] == cat
        assert got[doc_id][1] == pytest.approx(round(prob, 6), abs=2e-6)


def test_annotation_dictionary_df_matches_python(spark):
    from palladian_spark.ner.train_df import build_annotation_dictionary_df
    from palladian_spark.ner.train import build_annotation_dictionary
    from palladian_spark.textproc.taggers import Annotation
    anns = [Annotation(0, "Berlin", "LOC"), Annotation(0, "Bob Miller", "PER"),
            Annotation(0, "Berlin", "LOC")]
    py_model = build_annotation_dictionary(anns)
    expected = {(t, c): n for t, cats in py_model.terms.items()
                for c, n in cats.items()}
    df = spark.createDataFrame([(a.value, a.tag) for a in anns],
                               "value string, tag string")
    got = {(r["term"], r["category"]): float(r["n"])
           for r in build_annotation_dictionary_df(df).collect()}
    assert got == expected


def test_canonicalize_min_link_sim_and_drop_unlinked(spark):
    """The round-2 knob: min_link_sim gates the fuzzy mapping, and
    drop_unlinked removes triples with an unresolvable side instead of
    passing garbage into the graph."""
    from pyspark.sql import functions as F
    from palladian_spark.relations import canonicalize_triples

    triples = spark.createDataFrame(
        [("c0", 0, "alice johnson", "works_for", "Acme Corp",
          0, 5, 10, 14, 1.0),
         ("c0", 1, "Garbage Xyz", "works_for", "Acme Corp",
          0, 5, 10, 14, 1.0)],
        "conv_id string, turn_idx int, subj string, pred string, obj string,"
        " subj_start int, subj_end int, obj_start int, obj_end int,"
        " conf double")
    entity_dict = spark.createDataFrame(
        [("e1", "Alice Johnson", "PER"), ("e2", "Acme Corp", "ORG")],
        "entity_id string, surface string, concept string")

    # default: everything passes through (round-1 behavior)
    base = canonicalize_triples(triples, entity_dict, persist=False)
    subjects = {r["subj"] for r in base.collect()}
    assert subjects == {"Alice Johnson", "Garbage Xyz"}

    # drop_unlinked: the garbage-subject triple disappears
    strict = canonicalize_triples(triples, entity_dict, persist=False,
                                  drop_unlinked=True)
    assert {r["subj"] for r in strict.collect()} == {"Alice Johnson"}

    # min_link_sim above 1.0-exact still keeps exact hits; an impossible
    # bar (>1) empties the mapping, so with drop_unlinked nothing survives
    none_left = canonicalize_triples(triples, entity_dict, persist=False,
                                     min_link_sim=1.1, drop_unlinked=True)
    assert none_left.count() == 0
