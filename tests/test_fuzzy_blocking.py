"""Blocked fuzzy linking ≡ full-loop linking, plus bound soundness.

The blocking prunes with NECESSARY conditions for sim ≥ threshold, so the
linked result must be bit-identical to the exhaustive loop — these tests
pin that, both property-style (bound soundness on random strings) and
end-to-end (Spark fuzzy pass vs a literal Python loop).
"""

import os
import random
import uuid

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from palladian_spark.linking import _BlockedDict, _bound_frac
from palladian_spark.textproc.similarity import (
    METRICS, jaro_winkler_similarity, levenshtein_similarity)

_WORDS = st.text(alphabet="ABCDEFGabcdefg 0123456789-", min_size=0,
                 max_size=24)


@settings(max_examples=300, deadline=None)
@given(_WORDS, _WORDS)
def test_jaro_winkler_bound_is_necessary(a, b):
    t = 0.9
    frac = _bound_frac("jaro_winkler", t)
    if jaro_winkler_similarity(a, b) >= t:
        fa, fb = a.strip().upper(), b.strip().upper()
        la, lb = len(fa), len(fb)
        assert min(la, lb) >= frac * max(la, lb) - 1e-9
        inter = sum(min(fa.count(c), fb.count(c)) for c in set(fa))
        assert inter >= frac * max(la, lb) - 1e-9


@settings(max_examples=300, deadline=None)
@given(_WORDS, _WORDS)
def test_levenshtein_bound_is_necessary(a, b):
    t = 0.8
    frac = _bound_frac("levenshtein", t)
    if levenshtein_similarity(a, b) >= t:
        la, lb = len(a), len(b)
        assert min(la, lb) >= frac * max(la, lb) - 1e-9
        inter = sum(min(a.count(c), b.count(c)) for c in set(a))
        assert inter >= frac * max(la, lb) - 1e-9


def _synthetic_dict(n=400, seed=1):
    rng = random.Random(seed)
    surfaces = []
    for i in range(n):
        base = "".join(rng.choice("abcdefghijklmnop") for _ in range(rng.randint(4, 14)))
        surfaces.append(("e%d" % i, base.capitalize() + " " + str(i % 7), "ORG"))
    return surfaces


@pytest.mark.parametrize("metric,threshold", [
    ("jaro_winkler", 0.9), ("levenshtein", 0.8)])
def test_blocked_candidates_superset_of_linkable(metric, threshold):
    entries = _synthetic_dict()
    index = _BlockedDict(entries, metric)
    frac = _bound_frac(metric, threshold)
    sim_fn = METRICS[metric]
    rng = random.Random(9)
    queries = []
    # near-duplicates of dictionary surfaces + random noise
    for _, surface, _ in entries[:60]:
        chars = list(surface)
        if len(chars) > 2:
            chars[rng.randrange(len(chars))] = "x"
        queries.append("".join(chars))
    queries += ["zzz %d" % i for i in range(20)]
    for q in queries:
        cand = set(index.candidates(q, frac).tolist())
        for i, (_, surface, _) in enumerate(entries):
            if sim_fn(q, surface) >= threshold:
                assert i in cand, (q, surface)


def test_fuzzy_link_df_matches_full_loop(spark):
    from palladian_spark.linking import fuzzy_link_df
    entries = _synthetic_dict(200, seed=3)
    sim_fn = METRICS["jaro_winkler"]
    rng = random.Random(4)
    values = []
    for _, surface, _ in entries[:80]:
        chars = list(surface)
        chars[rng.randrange(len(chars))] = rng.choice("qxz")
        values.append("".join(chars))
    values += ["completely unrelated %d" % i for i in range(10)]

    expected = {}
    for v in values:
        best, best_sim = None, 0.9
        for eid, surface, concept in entries:
            s = sim_fn(v, surface)
            if s >= best_sim:
                best, best_sim = (eid, surface, concept, s), s
        if best is not None:
            expected[v] = best

    vdf = spark.createDataFrame([(v,) for v in values], "value string")
    edf = spark.createDataFrame(entries,
                                "entity_id string, surface string, concept string")
    got = {r["value"]: (r["entity_id"], r["canonical"], r["concept"],
                        r["link_sim"])
           for r in fuzzy_link_df(vdf, edf, "jaro_winkler", 0.9).collect()}
    assert got == expected
    assert len(got) > 0  # the fixture must actually exercise linking


def test_worker_index_one_per_python_worker(spark):
    """Every task of one plan key on a Python worker gets the SAME index
    object (built once per worker), and a second key gets its own."""
    from palladian_spark import linking
    entries = _synthetic_dict(50, seed=5)
    key_a, key_b = uuid.uuid4().hex, uuid.uuid4().hex
    n_parts = max(6, 2 * spark.sparkContext.defaultParallelism)

    def probe(iterator):
        a = linking._worker_index(key_a, entries, "jaro_winkler")
        b = linking._worker_index(key_b, entries, "jaro_winkler")
        # counts the tasks that saw THIS object: 1, 2, ... on a shared
        # index, always 1 on an index rebuilt per task
        a.tasks_seen = getattr(a, "tasks_seen", 0) + 1
        for _ in iterator:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "a": [id(a)],
                            "b": [id(b)], "seen": [a.tasks_seen]})

    rows = (spark.range(n_parts, numPartitions=n_parts)
            .mapInPandas(probe, "pid long, a long, b long, seen long")
            .collect())
    assert len(rows) == n_parts
    by_pid = {}
    for r in rows:
        by_pid.setdefault(r["pid"], []).append(r)
    # more tasks than workers: some worker ran several tasks
    assert max(len(v) for v in by_pid.values()) >= 2
    for pid_rows in by_pid.values():
        assert len({r["a"] for r in pid_rows}) == 1
        assert len({r["b"] for r in pid_rows}) == 1
        assert pid_rows[0]["a"] != pid_rows[0]["b"]
        assert sorted(r["seen"] for r in pid_rows) == \
            list(range(1, len(pid_rows) + 1))
