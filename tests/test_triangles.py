"""kg_triangles: hand-computed goldens on small graphs + invariance to
edge duplication/reversal, the degree-orientation count identity, and
the shared triangle enumerator (kg_triangles, ktruss) against a
pure-Python neighbour-set intersection."""

from collections import defaultdict

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from palladian_spark.graph import kg_triangles


def _run(spark, pairs):
    df = spark.createDataFrame(pairs, "u string, v string")
    return {r["node"]: (r["degree"], r["triangles"], r["clustering"])
            for r in kg_triangles(df).collect()}


def test_k3_every_node_one_triangle(spark):
    got = _run(spark, [("a", "b"), ("b", "c"), ("a", "c")])
    assert got == {"a": (2, 1, 1.0), "b": (2, 1, 1.0), "c": (2, 1, 1.0)}


def test_k4_counts(spark):
    # K4: each node has degree 3 and sits in C(3,2)=3 triangles; its
    # neighborhood is fully connected → coefficient 1.0
    nodes = ["a", "b", "c", "d"]
    pairs = [(x, y) for i, x in enumerate(nodes) for y in nodes[i + 1:]]
    got = _run(spark, pairs)
    assert all(got[n] == (3, 3, 1.0) for n in nodes)


def test_path_has_no_triangles(spark):
    got = _run(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    assert all(t == 0 for (_, t, _) in got.values())
    assert all(c == 0.0 for (_, _, c) in got.values())
    assert got["a"][0] == 1 and got["b"][0] == 2


def test_triangle_plus_pendant(spark):
    # triangle abc + pendant d on a: a has degree 3, 1 triangle,
    # coefficient 2·1/(3·2) = 1/3
    got = _run(spark, [("a", "b"), ("b", "c"), ("a", "c"), ("a", "d")])
    assert got["a"] == (3, 1, 0.333333)
    assert got["d"] == (1, 0, 0.0)


def test_duplicate_reversed_and_self_edges_collapse(spark):
    base = [("a", "b"), ("b", "c"), ("a", "c")]
    noisy = base + [("b", "a"), ("c", "b"), ("a", "b"), ("c", "c")]
    assert _run(spark, base) == _run(spark, noisy)


def test_two_components(spark):
    got = _run(spark, [("a", "b"), ("b", "c"), ("a", "c"),
                       ("x", "y"), ("y", "z")])
    assert got["a"][1] == 1 and got["x"][1] == 0
    assert len(got) == 6


def test_global_count_identity(spark):
    # sum of per-node triangle counts == 3 × number of triangles:
    # bowtie (two triangles sharing node m)
    got = _run(spark, [("a", "b"), ("a", "m"), ("b", "m"),
                       ("m", "x"), ("m", "y"), ("x", "y")])
    assert sum(t for (_, t, _) in got.values()) == 3 * 2
    # m: degree 4, 2 triangles → 2·2/(4·3) = 1/3
    assert got["m"] == (4, 2, 0.333333)


def test_edge_provenance_first_last_and_count(spark):
    from palladian_spark.graph import kg_edge_provenance
    rows = [("c2", 1, "A", "p", "B"), ("c1", 5, "A", "p", "B"),
            ("c1", 2, "A", "p", "B"), ("c9", 0, "X", "q", "Y")]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, subj string, pred string, "
              "obj string")
    got = {(r["src"], r["pred"], r["dst"]): r.asDict()
           for r in kg_edge_provenance(t).collect()}
    ab = got[("A", "p", "B")]
    assert ab["n_obs"] == 3
    # lexicographic (conv_id, turn_idx): first = (c1, 2), last = (c2, 1)
    assert (ab["first_conv_id"], ab["first_turn_idx"]) == ("c1", 2)
    assert (ab["last_conv_id"], ab["last_turn_idx"]) == ("c2", 1)
    xy = got[("X", "q", "Y")]
    assert xy["n_obs"] == 1
    assert xy["first_conv_id"] == xy["last_conv_id"] == "c9"


def test_star_center_zero_clustering(spark):
    # the celebrity-node shape the degree orientation exists for:
    # hub h with leaves — no triangle, coefficient 0
    got = _run(spark, [("h", f"l{i}") for i in range(10)])
    assert got["h"] == (10, 0, 0.0)


_NODE = st.integers(0, 11)


@settings(max_examples=8, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(st.lists(st.tuples(_NODE, _NODE), max_size=24),
       st.sets(_NODE, min_size=1, max_size=12))
def test_triangle_enumeration_matches_set_intersection(spark, pairs, spokes):
    """kg_triangles counts and one ktruss round's per-edge support equal
    a pure-Python neighbour-set intersection.  The graph has a hub (node
    0 joined to every spoke), reversed duplicates and self-loops."""
    from palladian_spark.graph import ktruss
    edges = pairs + [(0, s) for s in spokes]
    edges += [(v, u) for u, v in edges[::2]] + [(u, u) for u, _ in pairs[:2]]
    nbr = defaultdict(set)
    for u, v in edges:
        if u != v:
            nbr[u].add(v)
            nbr[v].add(u)
    canon = {(min(u, v), max(u, v)) for u, v in edges if u != v}
    want_tri = {x: (len(n), sum(1 for a, b in canon if a in n and b in n))
                for x, n in nbr.items()}
    support = {(u, v): len(nbr[u] & nbr[v]) for u, v in canon}
    want_truss = {e: s for e, s in support.items() if s >= 1}

    df = spark.createDataFrame(edges, "u long, v long")
    got_tri = {r["node"]: (r["degree"], r["triangles"])
               for r in kg_triangles(df).collect()}
    got_truss = {(r["u"], r["v"]): r["support"]
                 for r in ktruss(df, k=3, rounds=1, src_col="u",
                                 dst_col="v").collect()}
    assert got_tri == want_tri
    assert got_truss == want_truss
