"""Every graph analytic that persists an intermediate releases it: after
its result is collected, the session's cache manager is empty."""

import pytest
from pyspark.sql import functions as F

_EDGES = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (3, 5), (5, 6), (6, 7),
          (2, 1), (2, 2)]


def _triangle_delta(G, e):
    uv = e.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    old, new = uv.where(F.col("u") < 4), uv.where(F.col("u") >= 4)
    return G.apply_triangle_delta(G.kg_triangles(old), old, new)


_ANALYTICS = {
    "kg_triangles": lambda G, e: G.kg_triangles(e, "src", "dst"),
    "apply_triangle_delta": _triangle_delta,
    "ktruss": lambda G, e: G.ktruss(e, k=3, rounds=2),
    "kcore": lambda G, e: G.kcore(e, k=2, rounds=2),
    "label_propagation": lambda G, e: G.label_propagation(e, n_iter=2),
    "hits": lambda G, e: G.hits(e, n_iter=2),
    "bfs_levels": lambda G, e: G.bfs_levels(
        e, e.select(F.col("src").alias("node")).where("node = 1"),
        max_depth=2),
    "random_walks": lambda G, e: G.random_walks(e, walk_len=2),
    "biased_random_walks": lambda G, e: G.biased_random_walks(
        e, walk_len=3, p_num=2, q_num=3),
    "connected_components": lambda G, e: G.connected_components(
        e, "src", "dst"),
    "connected_components_star": lambda G, e: G.connected_components_star(
        e, "src", "dst"),
}


@pytest.mark.parametrize("name", sorted(_ANALYTICS))
def test_analytic_leaves_no_cached_frame(spark, name):
    from palladian_spark import graph as G
    spark.catalog.clearCache()
    e = spark.createDataFrame(_EDGES, "src long, dst long")
    assert _ANALYTICS[name](G, e).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
