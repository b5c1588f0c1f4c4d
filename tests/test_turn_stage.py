"""Every per-turn operator runs through operators.mentions.turn_stage.

One parametrized check over all of them on a 1-partition input that holds
a null-text turn and an empty turn: the null turn yields no rows, the
output equals the stage run without it, and the executed plan spreads
the turns with the salted exchange below the Python stage.
"""

import re

import pytest

from pyspark.sql import functions as F

from palladian_spark.session import local_frame

_DICT = [
    ("per:1", "Anna Smith", "PER"),
    ("org:1", "Acme Corp", "ORG"),
    ("loc:1", "Paris", "LOC"),
]

_TEXTS = [
    "Anna Smith works for Acme Corp in Paris. See https://acme.example/x :)",
    "Acme Corp is located in Paris. Anna Smith visited Paris on 2024-03-07.",
    "Call at 2024-01-05 10:30:00 please. The mayan calendar ends on "
    "21.12.2012, nobody knows.",
    "",
]

_DDL = "conv_id string, turn_idx int, text string"

_SALTED = re.compile(r"Exchange hashpartitioning\(xxhash64\(")


def _model():
    from palladian_spark.pipeline import model_from_entity_dictionary
    return model_from_entity_dictionary([(s, c) for _, s, c in _DICT])


def _entity_dict(spark):
    return local_frame(spark, _DICT,
                       "entity_id string, surface string, concept string")


def _stages():
    from palladian_spark.operators import dates_df, mentions, pos_df
    from palladian_spark.relations import (
        extract_canonical_triples, mine_patterns_df)
    return {
        "extract_mentions": lambda t: mentions.extract_mentions(t, _model()),
        "extract_candidates": mentions.extract_candidates,
        "word_tokens_df": mentions.word_tokens_df,
        "dictionary_tag_df": lambda t: mentions.dictionary_tag_df(
            t, _entity_dict(t.sparkSession).select("surface", "concept")),
        "split_sentences_df": mentions.split_sentences_df,
        "split_sentences_df_real": lambda t: mentions.split_sentences_df(
            t, only_real_sentences=True),
        "universal_pos_tag_df": pos_df.universal_pos_tag_df,
        "tag_datetimes_df": dates_df.tag_datetimes_df,
        "tag_datetimes_normalized_df":
            lambda t: dates_df.tag_datetimes_normalized_df(t, 2026),
        "mine_patterns_df": lambda t: mine_patterns_df(t, _model()),
        "extract_canonical_triples": lambda t: extract_canonical_triples(
            t, _model(), _entity_dict(t.sparkSession)),
    }


@pytest.mark.parametrize("name", sorted(_stages()))
def test_turn_stage_operator(spark, name):
    stage = _stages()[name]
    # each text twice, so mine_patterns_df's windows reach its min count
    rows = [(f"c{i}", j, t) for i, t in enumerate(_TEXTS) for j in (0, 1)]
    with_null = local_frame(spark, rows + [("c_null", 0, None)], _DDL)
    without = local_frame(spark, rows, _DDL)

    out = stage(with_null)
    got = sorted(map(tuple, out.collect()))
    assert got, "the stage produced no rows"
    assert got == sorted(map(tuple, stage(without).collect()))
    if "conv_id" in out.columns:
        assert out.where(F.col("conv_id") == "c_null").count() == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    python_at = plan.find("MapInPandas")
    assert python_at >= 0, plan
    assert _SALTED.search(plan, python_at), plan


def test_dates_normalized_without_time_part_has_null_clock(spark):
    from palladian_spark.operators.dates_df import tag_datetimes_normalized_df
    t = local_frame(spark, [("c0", 0, "The mayan calendar ends on "
                             "21.12.2012, nobody knows.")], _DDL)
    rows = [tuple(r) for r in tag_datetimes_normalized_df(t, 2026).collect()]
    assert rows == [("c0", 0, "21.12.2012", "DD.MM.YYYY", 27,
                     2012, 12, 21, None, None, None, None)]
