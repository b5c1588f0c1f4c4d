"""Event-stream operators (sessionize, windows, activity) and LSH-ANN
recall vs the exact baseline."""

import datetime as dt

import pytest

from pyspark.sql import functions as F

T0 = dt.datetime(2026, 1, 1, 10, 0, 0)


def _ev(eid, minutes, user, etype="click", value=1.0):
    return (eid, T0 + dt.timedelta(minutes=minutes), user, etype, value, None)


@pytest.fixture(scope="module")
def events_df(spark):
    rows = [
        _ev(1, 0, 1), _ev(2, 10, 1), _ev(3, 29, 1),      # session 1 (gaps <30)
        _ev(4, 60, 1), _ev(5, 65, 1, "buy", 9.5),        # session 2 (31-min gap)
        _ev(6, 0, 2), _ev(7, 200, 2),                    # user 2: two sessions
    ]
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string")


def test_sessionize_timeout_boundary(spark, events_df):
    from palladian_spark.operators.events import sessionize
    rows = {(r["user_id"], r["session_id"]): r
            for r in sessionize(events_df, timeout_minutes=30).collect()}
    assert len(rows) == 4
    s1 = rows[(1, 1)]
    # a gap of exactly 29→60 = 31 min splits; 19-min gap does not
    assert s1["n_events"] == 3
    s2 = rows[(1, 2)]
    assert s2["n_events"] == 2 and s2["total_value"] == pytest.approx(10.5)
    assert rows[(2, 1)]["n_events"] == 1 and rows[(2, 2)]["n_events"] == 1


def test_windowed_event_counts(spark, events_df):
    from palladian_spark.operators.events import windowed_event_counts
    rows = {(str(r["window_start"]), r["event_type"]): r["n_events"]
            for r in windowed_event_counts(events_df).collect()}
    # minute-60 event lands exactly on the 11:00 boundary → next window
    assert rows[("2026-01-01 10:00:00", "click")] == 4
    assert rows[("2026-01-01 11:00:00", "click")] == 1
    assert rows[("2026-01-01 11:00:00", "buy")] == 1
    assert rows[("2026-01-01 13:00:00", "click")] == 1


def test_user_activity(spark, events_df):
    from palladian_spark.operators.events import user_activity
    rows = {r["user_id"]: r for r in user_activity(events_df).collect()}
    assert rows[1]["n_events"] == 5 and rows[1]["n_event_types"] == 2
    assert rows[2]["n_events"] == 2


def test_lsh_ann_recall_vs_exact(spark):
    """On clustered data (where ANN is meaningful — the driver's synthetic
    embeddings are near-orthogonal noise with max cosine ~0.5, where
    hyperplane LSH is structurally no better than chance), the bucketed
    search must recover most true top-1 neighbors."""
    import numpy as np
    from palladian_spark.operators.similarity_search import (
        brute_force_top_k, lsh_bucketed_top_k)
    rng = np.random.RandomState(3)
    rows = []
    vid = 0
    for c in range(20):
        base = rng.randn(32)
        base /= np.linalg.norm(base)
        for _ in range(10):
            v = base + 0.02 * rng.randn(32)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {r["a_id"]: r["b_id"] for r in brute_force_top_k(emb, k=1).collect()}
    approx = {r["a_id"]: r["b_id"]
              for r in lsh_bucketed_top_k(emb, k=1, n_planes=6).collect()}
    assert len(approx) > 0.8 * len(exact)
    hits = sum(1 for a, b in approx.items() if exact.get(a) == b)
    assert hits / len(approx) > 0.5


def test_cooccurrence_document_vocab_cap(spark):
    # O(vocab²)-per-document skew guard: max_doc_vocab keeps the
    # lexicographically-first values deterministically; default = exact
    from palladian_spark.relations import cooccurrence_document_pairs
    rows = ([("c1", v, "T") for v in ("a", "b", "c", "d", "e")]
            + [("c2", v, "T") for v in ("a", "b")])
    m = spark.createDataFrame(rows, "conv_id string, value string, tag string")
    full = cooccurrence_document_pairs(m).collect()
    # C(5,2)=10 pair keys from c1; c2's (a,b) merges into c1's, n=2
    assert len(full) == 10
    assert {(r["left_value"], r["right_value"]): r["n"]
            for r in full}[("a", "b")] == 2
    capped = cooccurrence_document_pairs(m, max_doc_vocab=3).collect()
    # c1 keeps {a,b,c} → 3 pairs; c2 keeps {a,b} → merges into (a,b) n=2
    got = {(r["left_value"], r["right_value"]): r["n"] for r in capped}
    assert got == {("a", "b"): 2, ("a", "c"): 1, ("b", "c"): 1}
