"""Graph analytics over the constructed KG (graph.py, round 3):
degrees, deterministic PageRank, connected components."""

import pytest

from pyspark.sql import functions as F


def test_kg_degrees(spark):
    from palladian_spark.graph import kg_degrees
    t = spark.createDataFrame(
        [("c", 0, "A", "works_for", "B"),
         ("c", 1, "A", "works_for", "B"),   # duplicate edge → counted once
         ("c", 0, "A", "likes", "C"),
         ("c", 0, "B", "located_in", "C")],
        "conv_id string, turn_idx int, subj string, pred string, obj string")
    got = {r["node"]: (r["out_degree"], r["in_degree"])
           for r in kg_degrees(t).collect()}
    assert got == {"A": (2, 0), "B": (1, 1), "C": (0, 2)}


def test_pagerank_two_node_cycle(spark):
    # A→B, B→A: symmetric, every iteration keeps rank = 0.5 exactly
    from palladian_spark.graph import pagerank
    e = spark.createDataFrame([("A", "B"), ("B", "A")],
                              "src string, dst string")
    got = {r["node"]: r["rank"] for r in pagerank(e, n_iter=5).collect()}
    assert got == {"A": 0.5, "B": 0.5}


def test_pagerank_star_matches_hand_computation(spark):
    # A→C, B→C, C→A (one iteration from uniform 1/3):
    #   r(C) = 0.05 + 0.85·(1/3 + 1/3), r(A) = 0.05 + 0.85/3, r(B) = 0.05
    from palladian_spark.graph import pagerank
    e = spark.createDataFrame([("A", "C"), ("B", "C"), ("C", "A")],
                              "src string, dst string")
    got = {r["node"]: r["rank"]
           for r in pagerank(e, n_iter=1, round_decimals=None).collect()}
    third = 1.0 / 3
    assert got["C"] == pytest.approx(0.05 + 0.85 * (third + third), abs=1e-12)
    assert got["A"] == pytest.approx(0.05 + 0.85 * third, abs=1e-12)
    assert got["B"] == pytest.approx(0.05, abs=1e-12)


def test_pagerank_deterministic_across_partitionings(spark):
    # the decimal-exact contribution sum is the determinism claim: the
    # same graph through wildly different partitionings hashes identical
    from palladian_spark.graph import pagerank
    rows = [(f"n{i}", f"n{(i * 7 + 3) % 50}") for i in range(200)]
    a = spark.createDataFrame(rows, "src string, dst string")
    b = spark.createDataFrame(rows, "src string, dst string").repartition(37)
    ra = sorted((r["node"], r["rank"])
                for r in pagerank(a, n_iter=4).collect())
    rb = sorted((r["node"], r["rank"])
                for r in pagerank(b, n_iter=4).collect())
    assert ra == rb


def test_connected_components_clusters_and_chain(spark):
    from palladian_spark.graph import connected_components
    pairs = [(1, 2), (2, 3), (3, 4),        # chain → component 1
             (10, 11),                      # pair → component 10
             (20, 21), (21, 22), (20, 22)]  # triangle → component 20
    p = spark.createDataFrame(pairs, "a_id long, b_id long")
    got = {r["node"]: r["component"]
           for r in connected_components(p).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    # checkpoint_dir switches the per-round lineage cut to a RELIABLE
    # .checkpoint() (executor-loss-safe on a real cluster); results must
    # be identical and checkpoint files must actually land in the dir
    import os
    from palladian_spark.graph import connected_components
    pairs = [(1, 2), (2, 3), (3, 4), (10, 11)]
    p = spark.createDataFrame(pairs, "a_id long, b_id long")
    ckpt = str(tmp_path / "ckpt")
    got = {r["node"]: r["component"]
           for r in connected_components(p, checkpoint_dir=ckpt).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    assert any(files for _, _, files in os.walk(ckpt))


def test_pagerank_reliable_checkpoint_matches_plain(spark, tmp_path):
    from palladian_spark.graph import pagerank
    rows = [(f"n{i}", f"n{(i * 7 + 3) % 50}") for i in range(200)]
    e = spark.createDataFrame(rows, "src string, dst string")
    plain = sorted((r["node"], r["rank"])
                   for r in pagerank(e, n_iter=3).collect())
    ckpt = sorted((r["node"], r["rank"])
                  for r in pagerank(
                      e, n_iter=3,
                      checkpoint_dir=str(tmp_path / "ck")).collect())
    assert plain == ckpt


def test_star_cc_matches_min_label_on_random_graphs(spark):
    # large-star/small-star must produce EXACTLY the same labeling as
    # min-label propagation (component id = min reachable node) — both
    # are min-based and deterministic
    from palladian_spark.graph import (connected_components,
                                       connected_components_star)
    for seed in (7, 23):
        rows = [((i * seed + 3) % 60, (i * 13 + seed) % 60)
                for i in range(80)]
        p = spark.createDataFrame(rows, "a_id long, b_id long")
        ml = sorted((r["node"], r["component"])
                    for r in connected_components(p).collect())
        st = sorted((r["node"], r["component"])
                    for r in connected_components_star(p).collect())
        assert ml == st


def test_star_cc_log_rounds_on_long_path(spark):
    # the point of the alternating algorithm: a 64-edge path (diameter
    # 64) must converge in O(log n) rounds, not O(diameter)
    from palladian_spark.graph import connected_components_star
    n = 64
    p = spark.createDataFrame([(i, i + 1) for i in range(n)],
                              "a_id long, b_id long")
    labels, rounds = connected_components_star(p, return_rounds=True)
    got = {r["node"]: r["component"] for r in labels.collect()}
    assert got == {i: 0 for i in range(n + 1)}
    assert rounds <= 10, rounds     # log2(65) ≈ 6 + slack; far below 64


def test_star_cc_self_pairs_and_strings(spark):
    # self-pairs are inert; string ids order lexicographically, matching
    # the propagation variant and the SQL oracle's min()
    from palladian_spark.graph import connected_components_star
    p = spark.createDataFrame(
        [("d3", "d3"), ("d10", "d2"), ("d2", "d7")],
        "a_id string, b_id string")
    got = {r["node"]: r["component"]
           for r in connected_components_star(p).collect()}
    assert got == {"d3": "d3", "d10": "d10", "d2": "d10", "d7": "d10"}


def test_connected_components_long_chain_converges(spark):
    # diameter > a few: propagation must iterate to fixpoint, not stop
    # after one round
    from palladian_spark.graph import connected_components
    n = 24
    p = spark.createDataFrame([(i, i + 1) for i in range(n)],
                              "a_id long, b_id long")
    got = {r["node"]: r["component"]
           for r in connected_components(p).collect()}
    assert got == {i: 0 for i in range(n + 1)}


def test_weighted_pagerank_uniform_weights_match_unweighted(spark):
    from palladian_spark.graph import pagerank
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")]
    e = spark.createDataFrame(edges, "src string, dst string")
    ew = spark.createDataFrame([(s, d, 7) for s, d in edges],
                               "src string, dst string, weight int")
    plain = {r["node"]: r["rank"] for r in pagerank(e, n_iter=3).collect()}
    weighted = {r["node"]: r["rank"]
                for r in pagerank(ew, n_iter=3,
                                  weight_col="weight").collect()}
    assert plain == weighted


def test_weighted_pagerank_heavy_edge_attracts_rank(spark):
    from palladian_spark.graph import pagerank
    # a splits its mass 9:1 between b and c; closing edges keep the
    # graph strongly connected
    ew = spark.createDataFrame(
        [("a", "b", 9), ("a", "c", 1), ("b", "a", 1), ("c", "a", 1)],
        "src string, dst string, weight int")
    got = {r["node"]: r["rank"]
           for r in pagerank(ew, n_iter=3, weight_col="weight").collect()}
    assert got["b"] > got["c"]


def test_weighted_pagerank_parallel_edges_sum(spark):
    from palladian_spark.graph import pagerank
    one = spark.createDataFrame(
        [("a", "b", 2), ("a", "c", 1), ("b", "a", 1), ("c", "a", 1)],
        "src string, dst string, weight int")
    split = spark.createDataFrame(
        [("a", "b", 1), ("a", "b", 1), ("a", "c", 1), ("b", "a", 1),
         ("c", "a", 1)],
        "src string, dst string, weight int")
    r1 = {r["node"]: r["rank"]
          for r in pagerank(one, n_iter=2, weight_col="weight").collect()}
    r2 = {r["node"]: r["rank"]
          for r in pagerank(split, n_iter=2,
                            weight_col="weight").collect()}
    assert r1 == r2


def test_link_prediction_square_hand_computed(spark):
    from palladian_spark.graph import link_prediction_scores
    # square a–x, a–y, b–x, b–y: a,b share {x,y} and are not adjacent
    e = spark.createDataFrame(
        [("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")],
        "u string, v string")
    got = {(r["a"], r["b"]): r.asDict()
           for r in link_prediction_scores(e).collect()}
    ab = got[("a", "b")]
    assert ab["common"] == 2
    assert ab["jaccard"] == 1.0          # 2 / (2 + 2 - 2)
    assert ab["adamic_adar"] == round(2 / __import__("math").log(2), 6)
    assert ("x", "y") in got             # symmetric side
    assert len(got) == 2


def test_link_prediction_excludes_adjacent_pairs(spark):
    from palladian_spark.graph import link_prediction_scores
    # triangle: every pair is adjacent → no predictions
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "u string, v string")
    assert link_prediction_scores(e).count() == 0


def test_link_prediction_hub_cap_drops_hub_wedges(spark):
    from palladian_spark.graph import link_prediction_scores
    # hub h connects l0..l9: without cap every leaf pair shares h;
    # capping centers at degree 5 removes all of them
    e = spark.createDataFrame([("h", f"l{i}") for i in range(10)],
                              "u string, v string")
    assert link_prediction_scores(e).count() == 45
    assert link_prediction_scores(e, max_center_degree=5).count() == 0


def test_link_prediction_min_common(spark):
    from palladian_spark.graph import link_prediction_scores
    # a,b share x and y; a,c share only x
    e = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("a", "y"), ("b", "y"), ("c", "x")],
        "u string, v string")
    all_pairs = {(r["a"], r["b"]): r["common"]
                 for r in link_prediction_scores(e).collect()}
    assert all_pairs[("a", "b")] == 2
    strict = {(r["a"], r["b"])
              for r in link_prediction_scores(e, min_common=2).collect()}
    assert strict == {("a", "b"), ("x", "y")}


def test_neighborhood_features_golden(spark):
    from palladian_spark.graph import neighborhood_features
    t = spark.createDataFrame(
        [("a", "p", "b"), ("a", "q", "c"), ("b", "p", "c"),
         ("c", "p", "a")],
        ["subj", "pred", "obj"])
    out = {r["node"]: r for r in neighborhood_features(t).collect()}
    a = out["a"]
    # a → {b (od 1), c (od 1)}: sum 2, max 1, mean 1.0; preds {p, q}
    assert (a["out_degree"], a["in_degree"], a["n_preds_out"]) == (2, 1, 2)
    assert (a["n_nbrs_out"], a["nbr_out_degree_sum"],
            a["nbr_out_degree_max"]) == (2, 2, 1)
    assert a["nbr_out_degree_mean"] == 1.0
    # b → {c (od 1)}
    b = out["b"]
    assert (b["n_nbrs_out"], b["nbr_out_degree_sum"]) == (1, 1)
    # c → {a (od 2)}: max/mean pick up the hub neighbor
    c = out["c"]
    assert (c["nbr_out_degree_max"], c["nbr_out_degree_mean"]) == (2, 2.0)


def test_neighborhood_features_sink_node(spark):
    from palladian_spark.graph import neighborhood_features
    t = spark.createDataFrame([("a", "p", "b")], ["subj", "pred", "obj"])
    out = {r["node"]: r for r in neighborhood_features(t).collect()}
    b = out["b"]  # pure sink: zero out-neighborhood, NULL mean
    assert (b["out_degree"], b["n_nbrs_out"],
            b["nbr_out_degree_sum"]) == (0, 0, 0)
    assert b["nbr_out_degree_mean"] is None


def test_infer_node_types_majority_and_hops(spark):
    from palladian_spark.graph import infer_node_types
    # star: s1 has 2 PER + 1 LOC neighbors → PER; s2 has 1 LOC → LOC;
    # far is only reachable through s1 → typed in round 2 with s1's type.
    edges = spark.createDataFrame(
        [("c1", "s1"), ("c2", "s1"), ("n1", "s1"),
         ("n2", "s2"), ("s1", "far")], ["src", "dst"])
    seeds = spark.createDataFrame(
        [("c1", "PER"), ("c2", "PER"), ("n1", "LOC"), ("n2", "LOC")],
        ["node", "type"])
    out = {r["node"]: (r["type"], r["round"])
           for r in infer_node_types(edges, seeds, n_rounds=2).collect()}
    assert out["s1"] == ("PER", 1)
    assert out["s2"] == ("LOC", 1)
    assert out["far"] == ("PER", 2)
    assert out["c1"] == ("PER", 0)


def test_infer_node_types_tiebreak_and_unreached(spark):
    from palladian_spark.graph import infer_node_types
    edges = spark.createDataFrame(
        [("c1", "s1"), ("n1", "s1"), ("iso1", "iso2")], ["src", "dst"])
    seeds = spark.createDataFrame([("c1", "PER"), ("n1", "LOC")],
                                  ["node", "type"])
    out = {r["node"]: (r["type"], r["round"])
           for r in infer_node_types(edges, seeds, n_rounds=2).collect()}
    assert out["s1"] == ("LOC", 1)       # 1-1 tie → type asc
    assert "iso1" not in out and "iso2" not in out


def test_ego_subgraph_radius(spark):
    from palladian_spark.graph import ego_subgraph
    # chain a-b-c-d-e plus off-path f: 1-hop ego of c = edges b-c, c-d
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f")],
        ["src", "dst"])
    seeds = spark.createDataFrame([("c",)], ["node"])
    one = {(r["src"], r["dst"]): (r["src_dist"], r["dst_dist"])
           for r in ego_subgraph(edges, seeds, k=1).collect()}
    assert one == {("b", "c"): (1, 0), ("c", "d"): (0, 1)}
    two = {(r["src"], r["dst"]) for r in
           ego_subgraph(edges, seeds, k=2).collect()}
    # 2-hop adds a-b and d-e (both endpoints within 2), not e-f
    assert two == {("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")}


@pytest.mark.parametrize("variant, low_cap", [
    ("connected_components", 3), ("connected_components_star", 1)])
def test_components_raise_when_cap_ends_before_fixpoint(spark, variant,
                                                        low_cap):
    # a 12-node chain needs more rounds than the low cap: the cap must
    # fail loudly instead of returning unconverged labels; at the default
    # cap the labels equal the reference (every node → 0)
    from palladian_spark import graph
    cc = getattr(graph, variant)
    p = spark.createDataFrame([(i, i + 1) for i in range(11)],
                              "a_id long, b_id long")
    with pytest.raises(RuntimeError, match=f"max_iter={low_cap}"):
        cc(p, max_iter=low_cap)
    got = {r["node"]: r["component"] for r in cc(p).collect()}
    assert got == {i: 0 for i in range(12)}
