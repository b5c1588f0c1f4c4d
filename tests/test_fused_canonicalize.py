"""Fused extract_canonical_triples ≡ staged extract→canonicalize.

The fused path must be OUTPUT-IDENTICAL to the staged pair for every
linking regime: exact hits (incl. whitespace/case-normalized ones),
fuzzy hits, unlinked pass-through, the min_link_sim bar and
drop_unlinked.  Also pins normalize_surface_py to the Spark column twin.
"""

import pandas as pd
import pytest

from pyspark.sql import functions as F

from palladian_spark.linking import normalize_surface, normalize_surface_py
from palladian_spark.pipeline import model_from_entity_dictionary
from palladian_spark.relations import (
    canonicalize_triples, extract_canonical_triples, extract_triples,
)

_DICT = [
    ("per:1", "Anna Smith", "PER"),
    ("per:2", "Bob Jones", "PER"),
    ("org:1", "Acme Corp", "ORG"),
    ("org:2", "Globex Inc", "ORG"),
    ("loc:1", "Paris", "LOC"),
    ("loc:2", "Berlin", "LOC"),
]

_TEXTS = [
    # exact surface hits
    "Anna Smith works for Acme Corp in Paris.",
    # whitespace-normalized exact hit (double space inside the mention
    # survives StringTagger? if not, still exercises the normalizer)
    "Bob Jones works for Globex Inc in Berlin.",
    # fuzzy candidates: one-letter typos of dictionary surfaces
    "Anna Smyth works for Acme Corb in Paris.",
    # unlinked candidates: entirely unknown entities
    "Zork Quux works for Hooli Xyz in Atlantis.",
    "Bob Jones visited Paris.",
]


def _inputs(spark):
    transcripts = spark.createDataFrame(
        [("c%d" % i, j, "user", t, None, None)
         for i, t in enumerate(_TEXTS) for j in (0, 1)]
        # a null-text turn: both extract paths must skip it
        + [("c_null", 0, "user", None, None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    entity_dict = spark.createDataFrame(_DICT,
                                        ["entity_id", "surface", "concept"])
    model = model_from_entity_dictionary(
        [(s, c) for _, s, c in _DICT])
    return transcripts, entity_dict, model


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize("kwargs", [
    {},
    {"min_link_sim": 0.95},
    {"min_link_sim": 0.95, "drop_unlinked": True},
    {"metric": "levenshtein", "threshold": 0.8},
    {"metric": "none"},
])
def test_fused_equals_staged(spark, kwargs):
    transcripts, entity_dict, model = _inputs(spark)
    metric = kwargs.get("metric", "jaro_winkler")
    threshold = kwargs.get("threshold", 0.9)
    staged = canonicalize_triples(
        extract_triples(transcripts, model), entity_dict,
        metric=metric, threshold=threshold,
        min_link_sim=kwargs.get("min_link_sim"),
        drop_unlinked=kwargs.get("drop_unlinked", False),
        persist=False)
    fused = extract_canonical_triples(
        transcripts, model, entity_dict,
        metric=metric, threshold=threshold,
        min_link_sim=kwargs.get("min_link_sim"),
        drop_unlinked=kwargs.get("drop_unlinked", False))
    s_rows = _sorted_rows(staged)
    f_rows = _sorted_rows(fused)
    assert s_rows == f_rows
    assert s_rows  # the fixture actually produces triples


def test_fused_links_fuzzy_and_keeps_unlinked(spark):
    transcripts, entity_dict, model = _inputs(spark)
    rows = extract_canonical_triples(
        transcripts, model, entity_dict).collect()
    subjects = {r["subj"] for r in rows}
    # the typo'd mention canonicalized to the dictionary surface
    assert "Anna Smith" in subjects
    assert "Anna Smyth" not in subjects
    # with fuzzy disabled the same typo'd mention passes through
    # UNLINKED instead of disappearing
    rows_none = extract_canonical_triples(
        transcripts, model, entity_dict, metric="none").collect()
    subjects_none = {r["subj"] for r in rows_none}
    assert "Anna Smyth" in subjects_none


def test_normalize_surface_py_matches_column(spark):
    vals = ["Anna  Smith", "  padded  ", "MiXeD Case", "tab\there",
            "line\nbreak", "a\x0b b\x0c c\r d", "", " ", "ümlaut  Ü"]
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    got = [r["n"] for r in
           df.select(normalize_surface(F.col("v")).alias("n")).collect()]
    assert got == [normalize_surface_py(v) for v in vals]
