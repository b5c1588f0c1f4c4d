"""Graph materialization & analytics over the constructed KG.

The pipeline's output is a (subj, pred, obj) triple table; what a KG
consumer runs NEXT is graph-shaped.  This module holds those analytics,
all expressed as DataFrame plans (nothing graph-sized reaches the
driver):

  * tables and profiles — kg_edges, kg_edge_provenance, kg_degrees,
    kg_summary, conv_graph_stats, kg_role_provenance,
    neighborhood_features, match_motif;
  * ranking — pagerank (weighted, personalized, warm-started) and hits;
  * communities and clusters — label_propagation, modularity,
    quotient_graph, connected_components(_star), infer_node_types;
  * cohesion — kg_triangles, ktruss, kcore, link_prediction_scores;
  * reachability — bfs_levels, ego_subgraph, transitive_closure;
  * walk corpora — random_walks, biased_random_walks;
  * maintenance — kg_snapshot_diff and the incremental apply_*_delta.

Iterative analytics run a fixed number of rounds (or a fixpoint they
raise on) and sum decimal-exact, so a SQL oracle replays them exactly.

Each graph-shaped concept has one private helper that every analytic
calls: ``_simple_edges`` (distinct undirected edges u < v, self-loops
dropped), ``_neighbours`` (those edges in both directions), ``_degree``,
``_triangles`` (the degree-ordered enumerator behind kg_triangles,
ktruss and apply_triangle_delta), ``_close_wedges`` (the delta's other
two cases), ``_walk_graph``/``_walk_step`` (both walk corpora) and
``_lineage_cut`` (per-round lineage truncation).

Release rule: an analytic persists its intermediates through
``_persist`` and returns through ``_release``, which pins the result
with an eager localCheckpoint and then unpersists them, so a collected
result leaves nothing in the session's cache.  The two fixpoint loops
(connected_components, transitive_closure) end on a lineage cut their
convergence action already materialized and unpersist directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.storagelevel import StorageLevel


def _lineage_cut(df: DataFrame, checkpoint_dir: str | None,
                 eager: bool) -> DataFrame:
    """Truncate lineage between iterations.

    With ``checkpoint_dir`` set, uses a RELIABLE ``.checkpoint()`` backed
    by that directory (HDFS/S3 path on a real cluster): blocks survive
    executor loss, so a 50-iteration run can lose workers and recompute
    from the last checkpoint instead of aborting.  Without it, falls back
    to ``localCheckpoint`` — blocks live on executors, fine for
    local-mode runs but NOT executor-loss-safe at cluster scale.
    ``setCheckpointDir`` is idempotent per session; calling it here keeps
    the knob at the operator API instead of global session setup.
    """
    if checkpoint_dir is not None:
        sc = df.sparkSession.sparkContext
        sc.setCheckpointDir(checkpoint_dir)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def _persist(df: DataFrame, held: list | None) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK) and record it in ``held`` for
    :func:`_release`; with ``held`` None, return ``df`` as it is."""
    if held is None:
        return df
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    held.append(df)
    return df


def _release(result: DataFrame, held: list | None) -> DataFrame:
    """Pin ``result`` with an eager localCheckpoint, then unpersist every
    frame in ``held``: the pinned result no longer reads them.  With
    nothing held, return ``result`` unchanged (no extra job)."""
    if not held:
        return result
    result = result.localCheckpoint(eager=True)
    for df in held:
        df.unpersist()
    return result


def _simple_edges(edges: DataFrame, src_col: str,
                  dst_col: str) -> DataFrame:
    """The undirected simple graph of ``edges``: distinct (u, v) with
    u < v — reversed duplicates collapsed, self-loops dropped."""
    return (edges
            .select(F.least(F.col(src_col), F.col(dst_col)).alias("u"),
                    F.greatest(F.col(src_col), F.col(dst_col)).alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct())


def _neighbours(e: DataFrame) -> DataFrame:
    """Symmetric neighbour list (u, v) of the simple edges ``e``.  A
    reverse has u > v, so it cannot collide with an ``e`` row and no
    second distinct is needed."""
    return e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _degree(adj: DataFrame) -> DataFrame:
    """(node, degree): the number of rows per ``u`` of an adjacency."""
    return (adj.groupBy(F.col("u").alias("node"))
            .agg(F.count(F.lit(1)).alias("degree")))


def _triangles(e: DataFrame, deg: DataFrame,
               held: list | None = None) -> DataFrame:
    """Every triangle of the simple edges ``e`` exactly once, as (a, b, c).

    Degree-ordered wedge enumeration (Suri & Vassilvitskii, "Counting
    Triangles and the Curse of the Last Reducer", WWW'11): each edge is
    oriented from its lower-(degree, id) endpoint to its higher one, by
    ``deg`` (node, degree), so oriented out-degree is O(√m) and the wedge
    self-join never melts on a celebrity node.  A triangle is emitted at
    its lowest-ranked corner ``a``, with rank(b) < rank(c), and closed by
    the oriented edge b → c.  The oriented set is read three times; it is
    persisted when ``held`` is given."""
    ed = (e.join(deg.select(F.col("node").alias("u"),
                            F.col("degree").alias("du")), "u")
          .join(deg.select(F.col("node").alias("v"),
                           F.col("degree").alias("dv")), "v"))
    u_first = (F.struct(F.col("du"), F.col("u"))
               < F.struct(F.col("dv"), F.col("v")))
    eo = _persist(ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("ddeg")),
        held)
    e1, e2 = eo.alias("e1"), eo.alias("e2")
    wedges = (e1.join(e2, (F.col("e1.src") == F.col("e2.src"))
                      & (F.struct(F.col("e1.ddeg"), F.col("e1.dst"))
                         < F.struct(F.col("e2.ddeg"), F.col("e2.dst"))))
              .select(F.col("e1.src").alias("a"),
                      F.col("e1.dst").alias("b"),
                      F.col("e2.dst").alias("c")))
    closing = eo.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    return wedges.join(closing, ["b", "c"]).select("a", "b", "c")


def _close_wedges(pairs: DataFrame, adj: DataFrame) -> DataFrame:
    """(lo, hi, w) for every pair (u, v) of ``pairs`` and every w adjacent
    to both u and v in the adjacency ``adj`` (u, v).  Each pair expands
    from its endpoint lower in (``adj`` degree, id), so a pair at a
    celebrity costs min(du, dv) wedge rows, not the hub's degree; the
    other endpoint is a bounded membership probe on (hi, w)."""
    deg = _degree(adj)
    p = (pairs
         .join(deg.select(F.col("node").alias("u"),
                          F.col("degree").alias("du")), "u", "left")
         .join(deg.select(F.col("node").alias("v"),
                          F.col("degree").alias("dv")), "v", "left"))
    u_lo = (F.struct(F.coalesce("du", F.lit(0)).alias("d"),
                     F.col("u").alias("n"))
            < F.struct(F.coalesce("dv", F.lit(0)).alias("d"),
                       F.col("v").alias("n")))
    lo = F.when(u_lo, F.col("u")).otherwise(F.col("v"))
    hi = F.when(u_lo, F.col("v")).otherwise(F.col("u"))
    return (p.select(lo.alias("lo"), hi.alias("hi"))
            .join(adj.select(F.col("u").alias("lo"), F.col("v").alias("w")),
                  "lo")
            .join(adj.select(F.col("u").alias("hi"), F.col("v").alias("w")),
                  ["hi", "w"])
            .select("lo", "hi", "w"))


def _corners(tri: DataFrame) -> DataFrame:
    """(node, _t): how many of the triangles ``tri`` (three node columns)
    each node is a corner of."""
    return (tri.select(F.explode(F.array(*tri.columns)).alias("node"))
            .groupBy("node").agg(F.count(F.lit(1)).alias("_t")))


def _with_clustering(stats: DataFrame) -> DataFrame:
    """(node, degree, triangles) plus the local clustering coefficient
    2·T / (deg·(deg−1)), 0.0 below degree 2, rounded to 6 decimals."""
    d = F.col("degree")
    return stats.select(
        "node", "degree", "triangles",
        F.round(F.when(d >= 2, F.lit(2.0) * F.col("triangles")
                       / (d * (d - F.lit(1.0))))
                .otherwise(F.lit(0.0)), 6).alias("clustering"))


def kg_edges(triples: DataFrame) -> DataFrame:
    """Distinct (src, pred, dst) edges + supporting-evidence weight
    (number of (conv, turn) observations that asserted the edge)."""
    return (triples
            .groupBy(F.col("subj").alias("src"), "pred",
                     F.col("obj").alias("dst"))
            .agg(F.count(F.lit(1)).alias("weight")))


def kg_edge_provenance(triples: DataFrame) -> DataFrame:
    """Per distinct (src, pred, dst) edge: evidence count + the FIRST
    and LAST asserting occurrence (lexicographic (conv_id, turn_idx)
    order, deterministic) — the lineage table that lets a KG consumer
    trace any edge back to its source turns and lets checkpoint-resume
    logic detect which edges a partition already contributed.

    One hash agg over the triple stream (min/max of a (conv, turn)
    struct are order-free and map-side combinable — no window, no
    sort); output is edge-table sized.
    """
    occ = F.struct(F.col("conv_id"), F.col("turn_idx"))
    return (triples
            .groupBy(F.col("subj").alias("src"), "pred",
                     F.col("obj").alias("dst"))
            .agg(F.count(F.lit(1)).alias("n_obs"),
                 F.min(occ).alias("_first"), F.max(occ).alias("_last"))
            .select("src", "pred", "dst", "n_obs",
                    F.col("_first.conv_id").alias("first_conv_id"),
                    F.col("_first.turn_idx").alias("first_turn_idx"),
                    F.col("_last.conv_id").alias("last_conv_id"),
                    F.col("_last.turn_idx").alias("last_turn_idx")))


def kg_degrees(triples: DataFrame) -> DataFrame:
    """Per-node degree profile over DISTINCT (subj, pred, obj) edges:
    (node, out_degree, in_degree).  Two map-side-combinable aggs + one
    outer merge — no row explosion."""
    e = triples.select("subj", "pred", "obj").distinct()
    out_d = (e.groupBy(F.col("subj").alias("node"))
             .agg(F.count(F.lit(1)).alias("out_degree")))
    in_d = (e.groupBy(F.col("obj").alias("node"))
            .agg(F.count(F.lit(1)).alias("in_degree")))
    return (out_d.join(in_d, "node", "full_outer")
            .select("node",
                    F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
                    F.coalesce("in_degree", F.lit(0)).alias("in_degree")))


def kg_triangles(edges: DataFrame, src_col: str = "u",
                 dst_col: str = "v", cache: bool = True) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over the
    undirected simple graph of ``edges`` (self-loops dropped, duplicate /
    reversed edges collapsed).

    Returns (node, degree, triangles, clustering) where ``clustering`` =
    2·T(v) / (deg(v)·(deg(v)−1)) (0.0 when deg < 2), rounded to 6
    decimals.  Nodes with no triangles still appear (count 0).

    Shape: one :func:`_triangles` enumeration, each triangle exploded to
    its three corners for one map-side-combinable count agg.  All joins
    are plain hash joins on node keys; nothing driver-side.

    ``cache`` persists the distinct edge set and the oriented edge set
    (each consumed by 2–3 downstream branches): without it, a lazy DAG
    re-executes the full upstream plan — e.g. a whole NER pipeline —
    once per branch.  MEMORY_AND_DISK, edge-table sized, released once
    the result is pinned; disable only when the input is already
    materialized.
    """
    held = [] if cache else None
    e = _persist(_simple_edges(edges, src_col, dst_col), held)
    deg = _degree(_neighbours(e))
    stats = (deg.join(_corners(_triangles(e, deg, held)), "node", "left")
             .select("node", "degree",
                     F.coalesce("_t", F.lit(0)).cast("bigint")
                     .alias("triangles")))
    return _release(_with_clustering(stats), held)


def link_prediction_scores(edges: DataFrame, src_col: str = "u",
                           dst_col: str = "v",
                           max_center_degree: int | None = None,
                           min_common: int = 1) -> DataFrame:
    """Classic neighborhood link-prediction scores for NON-adjacent node
    pairs at distance 2: (a, b, common, jaccard, adamic_adar) where

      * common      — |N(a) ∩ N(b)| (via shared-neighbor wedges)
      * jaccard     — common / (deg(a) + deg(b) − common)
      * adamic_adar — Σ_{n ∈ N(a)∩N(b)} 1/ln(deg(n)) (wedge centers
        always have deg ≥ 2, so ln is never 0), decimal-exact sum →
        order-independent

    ``max_center_degree`` excludes hub nodes as wedge CENTERS — the
    skew guard: a degree-d hub contributes O(d²) wedges but ~zero
    Adamic-Adar signal (1/ln(d) → small), so capping changes little
    while bounding the biggest bucket; the cap is part of the operator
    contract (an oracle must apply the same filter).  Pairs are ranked
    by the caller; ``min_common`` prunes the long tail early.
    """
    e = _simple_edges(edges, src_col, dst_col)
    und = _neighbours(e)
    deg = _degree(und)
    centers = und.join(deg, und.u == deg.node) \
        .select(F.col("u").alias("n"), F.col("degree").alias("nd"),
                F.col("v").alias("nb"))
    if max_center_degree is not None:
        centers = centers.where(F.col("nd") <= max_center_degree)
    c1, c2 = centers.alias("c1"), centers.alias("c2")
    wedges = (c1.join(c2, (F.col("c1.n") == F.col("c2.n"))
                      & (F.col("c1.nb") < F.col("c2.nb")))
              .select(F.col("c1.nb").alias("a"),
                      F.col("c2.nb").alias("b"),
                      F.col("c1.nd").alias("nd")))
    scored = (wedges.groupBy("a", "b")
              .agg(F.count(F.lit(1)).alias("common"),
                   F.sum((F.lit(1.0) / F.log(F.col("nd")))
                         .cast("decimal(38,18)")).cast("double")
                   .alias("_aa"))
              .where(F.col("common") >= min_common))
    non_adj = scored.join(
        e.select(F.col("u").alias("a"), F.col("v").alias("b")),
        ["a", "b"], "left_anti")
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("_da"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("_db"))
    return (non_adj.join(da, "a").join(db, "b")
            .select("a", "b", "common",
                    F.round(F.col("common")
                            / (F.col("_da") + F.col("_db")
                               - F.col("common")), 6).alias("jaccard"),
                    F.round("_aa", 6).alias("adamic_adar")))


def _exact_contrib_sum(col: str):
    """Order-independent double sum (same trick as events._exact_sum):
    per-row cast to decimal(38,18) makes the aggregation associative-
    exact, so iterative PageRank is deterministic for any partitioning
    AND replayable by an external SQL engine."""
    return F.sum(F.col(col).cast("decimal(38,18)")).cast("double")


def pagerank(edges: DataFrame, n_iter: int = 3, damping: float = 0.85,
             src_col: str = "src", dst_col: str = "dst",
             round_decimals: int | None = 6,
             checkpoint_dir: str | None = None,
             weight_col: str | None = None,
             seeds: DataFrame | None = None,
             init_ranks: DataFrame | None = None) -> DataFrame:
    """PageRank over the DISTINCT directed edge set.

    rank_0 = 1/N; rank_{k+1}(v) = (1−d)/N + d · Σ_{u→v} rank_k(u)/out(u).
    One shuffle per iteration (the contribution agg); the rank table is
    O(nodes) rows.  ``checkpoint_dir`` truncates lineage each iteration
    with a RELIABLE ``.checkpoint()`` to that shared path (see
    _lineage_cut) — required for large ``n_iter`` on real clusters;
    without it the plan stays one lazy DAG, which suits small runs.
    Dangling mass is not redistributed (documented simplification).

    ``weight_col`` switches to WEIGHTED PageRank: parallel edges are
    summed per (src, dst) and each contribution becomes
    rank·w(u,v)/W_out(u) — for the KG, feed :func:`kg_edges` so an edge
    asserted by 500 turns pulls 500× the rank of a one-off extraction.
    Weights are integral (evidence counts), so W_out sums are exact and
    the decimal-cast contribution sums keep every iteration
    order-independent, exactly as in the unweighted path.

    ``init_ranks`` (a (node, rank) DataFrame) WARM-STARTS the
    iteration: rank_0 = the given ranks for known nodes, 1/N for nodes
    the old vector has never seen (removed nodes drop out via the node
    join).  PageRank's fixed point does not depend on the start vector,
    but the error contracts by ~d per iteration — so after a small
    snapshot delta (apply_degree_delta territory) a 2-3 iteration warm
    refresh lands where a cold start needs its full budget.  Pass the
    UNROUNDED previous vector (round_decimals=None) for the cleanest
    contraction.

    ``seeds`` (a DataFrame with a ``node`` column) switches to
    PERSONALIZED PageRank: the restart vector p puts 1/|S| on each seed
    (0 elsewhere), rank_0 = p, and every iteration restarts to
    (1−d)·p(v) instead of (1−d)/N — ranks become proximity to the seed
    set.  The per-row base term is one IEEE multiply, so the
    decimal-exact replay property is unchanged.
    """
    if weight_col is not None:
        e = (edges.select(F.col(src_col).alias("src"),
                          F.col(dst_col).alias("dst"),
                          F.col(weight_col).cast("long").alias("_w"))
             .groupBy("src", "dst").agg(F.sum("_w").alias("_w")))
    else:
        e = edges.select(F.col(src_col).alias("src"),
                         F.col(dst_col).alias("dst")).distinct()
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node"))).distinct())
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    if weight_col is not None:
        out_deg = e.groupBy("src").agg(F.sum("_w").alias("out_d"))
        contrib_expr = F.col("rank") * F.col("_w") / F.col("out_d")
    else:
        out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_d"))
        contrib_expr = F.col("rank") / F.col("out_d")
    if seeds is not None:
        sn = seeds.select("node").distinct()
        n_seeds = sn.count()
        if n_seeds == 0:
            raise ValueError("personalized pagerank needs >= 1 seed")
        base_t = (nodes.join(sn.withColumn("_is", F.lit(1)), "node", "left")
                  .select("node", (F.coalesce("_is", F.lit(0))
                                   / F.lit(n_seeds)).alias("_pv")))
        ranks = base_t.select("node", F.col("_pv").alias("rank"))
        # (1-d)·p(v): one multiply per row (replay-identical in SQL)
        restart = F.lit(1.0 - damping) * F.col("_pv")
    else:
        # keep the historical single-division base: (1-d)/N multiplied
        # out would round differently and break the replay oracles
        base_t = nodes.withColumn("_pv", F.lit(1.0 / n))
        ranks = nodes.withColumn("rank", F.lit(1.0 / n))
        restart = F.lit((1.0 - damping) / n)
    if init_ranks is not None:
        ranks = (nodes.join(init_ranks.select("node",
                                              F.col("rank").alias("_r0")),
                            "node", "left")
                 .select("node", F.coalesce("_r0", F.lit(1.0 / n))
                         .alias("rank")))

    for _ in range(n_iter):
        contrib = (e.join(ranks, e.src == ranks.node)
                   .join(out_deg, "src")
                   .select(F.col("dst").alias("node"),
                           contrib_expr.alias("_contrib")))
        summed = contrib.groupBy("node").agg(
            _exact_contrib_sum("_contrib").alias("_in"))
        ranks = (base_t.join(summed, "node", "left")
                 .select("node",
                         (restart + F.lit(damping)
                          * F.coalesce("_in", F.lit(0.0))).alias("rank")))
        if checkpoint_dir is not None:
            ranks = _lineage_cut(ranks, checkpoint_dir, eager=False)
    if round_decimals is not None:
        ranks = ranks.withColumn("rank", F.round("rank", round_decimals))
    return ranks


def _edge_sig(e: DataFrame) -> tuple:
    """(count, order-free checksum) fingerprint of an edge set — one agg
    job, used as the fixpoint test instead of a full set comparison."""
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("chk")
    ).first()
    return (row["n"], row["chk"])


def connected_components_star(pairs: DataFrame, src_col: str = "a_id",
                              dst_col: str = "b_id",
                              max_iter: int = 30,
                              checkpoint_dir: str | None = None,
                              return_rounds: bool = False):
    """(node, component) labels via the alternating large-star /
    small-star algorithm (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14) — O(log n) rounds versus
    O(diameter) for :func:`connected_components`' min-label
    propagation.

    Each round rewrites the edge set with two grouped passes:

      * large-star — per node ``u``, let ``m = min({u} ∪ N(u))``;
        re-point every strictly larger neighbor ``v > u`` at ``m``.
      * small-star — orient each edge child→parent (``u = max``),
        group by child, and re-point the child and all its parents at
        the minimum parent.

    At the fixpoint every component is a star centered on its minimum
    node id, so the labeling (component id = min reachable node) is
    IDENTICAL to min-label propagation's — both are min-based and
    deterministic, and the same transitive-closure SQL oracle verifies
    either.  Use this variant when components may be DEEP (long chains
    from transitive near-dup links at full-corpus scale); for shallow
    LSH dup clusters the simpler propagation is fine.

    Per-round cost: two groupBy shuffles over the edge set (which only
    shrinks toward one edge per non-root node) + one fingerprint agg
    for the fixpoint test.  ``checkpoint_dir`` makes the per-round
    lineage cut executor-loss-safe, as in :func:`connected_components`.
    ``return_rounds`` additionally returns the number of rounds taken
    (for the O(log n) convergence evidence in tests).  A run that ends
    at ``max_iter`` without a round confirming the fixpoint raises
    RuntimeError.
    """
    # round 1 and the final node labeling both read the raw pair plan —
    # persist so an expensive upstream (MinHash/LSH) executes once, not
    # once per consumer
    held: list = []
    raw = _persist(pairs.select(F.col(src_col).alias("u"),
                                F.col(dst_col).alias("v")), held)
    nodes = (raw.select(F.col("u").alias("node"))
             .union(raw.select(F.col("v").alias("node"))).distinct())
    e = raw.where(F.col("u") != F.col("v")).distinct()

    def large_star(edges: DataFrame) -> DataFrame:
        und = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = (und.groupBy("u").agg(F.min("v").alias("_mn"))
             .select("u", F.least("_mn", F.col("u")).alias("m")))
        return (und.join(m, "u")
                .where(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .where(F.col("u") != F.col("v")).distinct())

    def small_star(edges: DataFrame) -> DataFrame:
        # orient child→parent: child = max endpoint
        o = edges.select(F.greatest("u", "v").alias("u"),
                         F.least("u", "v").alias("v"))
        m = o.groupBy("u").agg(F.min("v").alias("m"))
        repoint = (o.join(m, "u")
                   .select(F.col("v").alias("u"), F.col("m").alias("v")))
        child = m.select(F.col("u"), F.col("m").alias("v"))
        return (repoint.union(child)
                .where(F.col("u") != F.col("v")).distinct())

    rounds = 0
    sig = _edge_sig(e)
    for _ in range(max_iter):
        e = small_star(large_star(e))
        # lazy cut: the signature action below materializes it — one job
        # per round (same rationale as connected_components)
        e = _lineage_cut(e, checkpoint_dir, eager=False)
        rounds += 1
        new_sig = _edge_sig(e)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raw.unpersist()
        raise RuntimeError(
            f"connected_components_star: no fixpoint within max_iter="
            f"{max_iter} rounds")
    # fixpoint: e is (child, root) star edges; roots/isolated nodes map
    # to themselves
    parent = (e.groupBy(F.col("u").alias("node"))
              .agg(F.min("v").alias("_root")))
    labels = _release(
        nodes.join(parent, "node", "left")
        .select("node", F.coalesce("_root", "node").alias("component")),
        held)
    if return_rounds:
        return labels, rounds
    return labels


def connected_components(pairs: DataFrame, src_col: str = "a_id",
                         dst_col: str = "b_id",
                         max_iter: int = 50,
                         checkpoint_dir: str | None = None) -> DataFrame:
    """(node, component) labels over an undirected pair set — component
    id = the minimum node id reachable, found by min-label propagation.

    Each round is one join + one min-agg and the label table stays
    O(nodes); rounds needed = graph diameter (near-dup clusters are
    shallow).  The fixpoint test is one count per round — an acceptable
    driver action since rounds are few; ``max_iter`` bounds adversarial
    chains, and a run that ends at the cap without a round confirming the
    fixpoint raises RuntimeError instead of returning partial labels.
    Deterministic by construction (min is order-free).

    ``checkpoint_dir`` switches the per-round lineage cut from
    localCheckpoint (local-mode default) to a reliable ``.checkpoint()``
    so a multi-round run survives executor loss (see _lineage_cut).
    """
    e = pairs.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
    und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))) \
        .distinct()
    # EVERY round joins against `und`; without a persist the whole
    # upstream pair-generation plan (e.g. a MinHash/LSH sweep) re-executes
    # per round — measured as the dominant cost of dedup_components
    # (rounds × LSH).  Edge-table sized.
    und = und.persist(StorageLevel.MEMORY_AND_DISK)
    labels = (und.select(F.col("u").alias("node"))
              .union(und.select(F.col("v").alias("node"))).distinct()
              .withColumn("label", F.col("node")))
    for _ in range(max_iter):
        prop = (und.join(labels, und.v == labels.node)
                .select(F.col("u").alias("node"), "label"))
        new = (labels.select("node", "label").union(prop)
               .groupBy("node").agg(F.min("label").alias("label")))
        # lazy lineage cut: the changed-count action below materializes
        # the checkpoint as a side effect — ONE job per round instead of
        # the former eager-checkpoint + count pair (halves the fixed
        # per-round scheduling cost that dominates on small graphs)
        new = _lineage_cut(new, checkpoint_dir, eager=False)
        changed = (new.alias("n")
                   .join(labels.alias("o"), "node")
                   .where(F.col("n.label") != F.col("o.label")).count())
        labels = new
        if changed == 0:
            break
    else:
        und.unpersist()
        raise RuntimeError(
            f"connected_components: no fixpoint within max_iter={max_iter} "
            f"rounds")
    # the final labels are checkpoint-materialized by the last round's
    # convergence action, so the edge cache can be released eagerly
    und.unpersist()
    return labels.select("node", F.col("label").alias("component"))


def kg_snapshot_diff(old_triples: DataFrame,
                     new_triples: DataFrame) -> DataFrame:
    """KG maintenance: edge-level diff between two snapshot triple sets.

    Output per distinct (subj, pred, obj) present in EITHER snapshot:
    (subj, pred, obj, status, old_evidence, new_evidence) where status ∈
    {added, removed, changed, unchanged} — `changed` = present in both
    with a different observation count (evidence drift without an edge
    flip).  One full outer join of two map-side-combinable evidence
    aggs; the diff shuffles on the triple key only."""
    def ev(t, name):
        return (t.groupBy("subj", "pred", "obj")
                .agg(F.count(F.lit(1)).alias(name)))
    o = ev(old_triples, "old_evidence")
    n = ev(new_triples, "new_evidence")
    j = o.join(n, ["subj", "pred", "obj"], "full_outer")
    status = (F.when(F.col("old_evidence").isNull(), F.lit("added"))
              .when(F.col("new_evidence").isNull(), F.lit("removed"))
              .when(F.col("old_evidence") != F.col("new_evidence"),
                    F.lit("changed"))
              .otherwise(F.lit("unchanged")))
    return j.select(
        "subj", "pred", "obj", status.alias("status"),
        F.coalesce("old_evidence", F.lit(0)).alias("old_evidence"),
        F.coalesce("new_evidence", F.lit(0)).alias("new_evidence"))


def apply_degree_delta(base_degrees: DataFrame,
                       diff: DataFrame) -> DataFrame:
    """Incremental KG maintenance: update a degree profile with a
    snapshot diff instead of recomputing over the full graph.

    ``base_degrees`` is kg_degrees(old snapshot); ``diff`` is
    kg_snapshot_diff(old, new).  Only ``added`` / ``removed`` edges
    change distinct-edge degrees (``changed`` is evidence drift on an
    edge present in both snapshots), so the update touches O(|diff|)
    rows: explode each flipped edge into its two endpoint contributions,
    aggregate, full-outer-merge with the base, and drop nodes that fall
    to (0, 0).  Equivalent to kg_degrees(new) — pinned by the
    kg_degrees_incremental oracle.

    Scale: at 10^12 turns the full degree recompute is a scan of every
    triple ever emitted; the delta path scans only the day's diff —
    the base profile joins on its primary key and stays partitioned.
    """
    sign = (F.when(F.col("status") == "added", F.lit(1))
            .when(F.col("status") == "removed", F.lit(-1)))
    flips = (diff.where(F.col("status").isin("added", "removed"))
             .select("subj", "obj", sign.alias("d")))
    contrib = (flips.select(F.col("subj").alias("node"),
                            F.col("d").alias("d_out"),
                            F.lit(0).alias("d_in"))
               .unionAll(flips.select(F.col("obj").alias("node"),
                                      F.lit(0).alias("d_out"),
                                      F.col("d").alias("d_in")))
               .groupBy("node")
               .agg(F.sum("d_out").alias("d_out"),
                    F.sum("d_in").alias("d_in")))
    merged = (base_degrees.join(contrib, "node", "full_outer")
              .select(
                  "node",
                  (F.coalesce("out_degree", F.lit(0))
                   + F.coalesce("d_out", F.lit(0))).alias("out_degree"),
                  (F.coalesce("in_degree", F.lit(0))
                   + F.coalesce("d_in", F.lit(0))).alias("in_degree")))
    return merged.where((F.col("out_degree") > 0) | (F.col("in_degree") > 0))


def kg_summary(triples: DataFrame) -> DataFrame:
    """One-row structural summary of the KG over DISTINCT edges:
    (n_nodes, n_edges, n_predicates, max_out_degree, max_in_degree,
    avg_out_degree) — avg_out_degree = n_edges / n_nodes as an IEEE
    division of exact longs.  Built from the kg_degrees profile (two
    map-side aggs) + one global agg of the node-sized table."""
    e = triples.select("subj", "pred", "obj").distinct()
    stats = kg_degrees(e).agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum("out_degree").cast("long").alias("n_edges"),
        F.max("out_degree").alias("max_out_degree"),
        F.max("in_degree").alias("max_in_degree"),
        (F.sum("out_degree") / F.count(F.lit(1))).alias("avg_out_degree"))
    n_pred = e.agg(F.countDistinct("pred").alias("n_predicates"))
    return stats.crossJoin(n_pred).select(
        "n_nodes", "n_edges", "n_predicates", "max_out_degree",
        "max_in_degree", "avg_out_degree")


def hits(edges: DataFrame, n_iter: int = 2,
         src_col: str = "src", dst_col: str = "dst",
         checkpoint_dir: str | None = None) -> DataFrame:
    """HITS hubs & authorities over the DISTINCT directed edge set,
    UNNORMALIZED for ``n_iter`` iterations: h⁰ = 1; aᵏ(v) = Σ_{u→v}
    hᵏ⁻¹(u); hᵏ(u) = Σ_{u→v} aᵏ(v).  Without per-iteration
    normalization every score is an exact integer path count (aᵏ counts
    alternating back-forward walks), so the whole iteration is
    engine-portable — the norms only matter for convergence, not for a
    fixed-iteration ranking.  The one division happens at the END: each
    score over its global sum, a single IEEE op per row.

    Output: (node, hub, auth, hub_norm, auth_norm).  Same shuffle shape
    as :func:`pagerank` (two join+agg rounds per iteration, node-sized
    state); ``checkpoint_dir`` cuts lineage identically.

    The distinct edge and node sets are persisted — every iteration
    joins ``e`` twice, so without it a lazy upstream plan (e.g. the
    whole NER pipeline) re-executes 4·n_iter times — and released once
    the result is pinned.
    """
    held: list = []
    e = _persist(edges.select(F.col(src_col).alias("src"),
                              F.col(dst_col).alias("dst")).distinct(), held)
    nodes = _persist(e.select(F.col("src").alias("node"))
                     .union(e.select(F.col("dst").alias("node")))
                     .distinct(), held)
    hubs = nodes.withColumn("hub", F.lit(1).cast("long"))
    auths = None
    for _ in range(n_iter):
        a = (e.join(hubs, e.src == hubs.node)
             .groupBy(F.col("dst").alias("node"))
             .agg(F.sum("hub").alias("_a")))
        auths = (nodes.join(a, "node", "left")
                 .select("node", F.coalesce("_a", F.lit(0))
                         .cast("long").alias("auth")))
        h = (e.join(auths, e.dst == auths.node)
             .groupBy(F.col("src").alias("node"))
             .agg(F.sum("auth").alias("_h")))
        hubs = (nodes.join(h, "node", "left")
                .select("node", F.coalesce("_h", F.lit(0))
                        .cast("long").alias("hub")))
        if checkpoint_dir is not None:
            hubs = _lineage_cut(hubs, checkpoint_dir, eager=False)
            auths = _lineage_cut(auths, checkpoint_dir, eager=False)
    scored = hubs.join(auths, "node")
    totals = scored.agg(F.sum("hub").alias("_th"),
                        F.sum("auth").alias("_ta"))
    return _release(
        scored.crossJoin(F.broadcast(totals))
        .select("node", "hub", "auth",
                (F.col("hub") / F.col("_th")).alias("hub_norm"),
                (F.col("auth") / F.col("_ta")).alias("auth_norm")), held)


def label_propagation(edges: DataFrame, n_iter: int = 2,
                      src_col: str = "src", dst_col: str = "dst",
                      checkpoint_dir: str | None = None) -> DataFrame:
    """Community detection by synchronous label propagation over the
    UNDIRECTED simple graph of ``edges`` (self-loops dropped): labels
    start as the node id; each iteration EVERY node adopts the most
    frequent label among its neighbors, ties broken by MIN label.
    Synchronous updates + the deterministic tie-break make the result a
    pure function of the graph (classic async LPA is run-order
    dependent — useless for replay), and a fixed ``n_iter`` makes it
    SQL-replayable, exactly like :func:`pagerank` / :func:`hits`.

    Output: (node, label) — nodes sharing a label after ``n_iter``
    rounds are one community.  Per iteration: one join of the (cached)
    symmetric neighbor list with the node-sized label table + one
    count agg + one row_number per node — shuffles on node keys only,
    hub skew goes to AQE.  ``checkpoint_dir`` cuts lineage per round, as
    in :func:`pagerank`."""
    held: list = []
    nbr = _persist(_neighbours(_simple_edges(edges, src_col, dst_col)), held)
    labels = (nbr.select(F.col("u").alias("node")).distinct()
              .withColumn("label", F.col("node")))
    w = Window.partitionBy("node").orderBy(F.col("_n").desc(),
                                           F.col("label").asc())
    for _ in range(n_iter):
        votes = (nbr.join(labels.withColumnRenamed("node", "v"), "v")
                 .groupBy(F.col("u").alias("node"), "label")
                 .agg(F.count(F.lit(1)).alias("_n")))
        labels = (votes.withColumn("_rn", F.row_number().over(w))
                  .where(F.col("_rn") == 1)
                  .select("node", "label"))
        if checkpoint_dir is not None:
            labels = _lineage_cut(labels, checkpoint_dir, eager=False)
    return _release(labels, held)


def bfs_levels(edges: DataFrame, seeds: DataFrame, max_depth: int = 2,
               src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Breadth-first distance labels from ``seeds`` over the UNDIRECTED
    simple graph of ``edges``: (node, dist) for every node within
    ``max_depth`` hops (dist 0 = the seeds themselves).  Classic
    frontier expansion — each round is one join of the (cached)
    symmetric neighbor list with the frontier + one anti-join against
    the visited set; rounds = ``max_depth`` (a constant), so no
    fixpoint driver loop.  Hub-skewed frontiers go to AQE."""
    held: list = []
    nbr = _persist(_neighbours(_simple_edges(edges, src_col, dst_col)), held)
    frontier = seeds.select("node").distinct()
    visited = frontier.withColumn("dist", F.lit(0))
    for k in range(1, max_depth + 1):
        nxt = (nbr.join(frontier.withColumnRenamed("node", "u"), "u")
               .select(F.col("v").alias("node")).distinct()
               .join(visited.select("node"), "node", "left_anti"))
        # cut lineage growth: the visited set is node-sized
        visited = (visited.unionByName(nxt.withColumn("dist", F.lit(k)))
                   .localCheckpoint(eager=False))
        frontier = nxt
    return _release(
        visited.select("node", F.col("dist").cast("int").alias("dist")), held)


def kcore(edges: DataFrame, k: int = 2, rounds: int = 4,
          src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """k-core peeling over the UNDIRECTED simple graph of ``edges``:
    repeatedly drop nodes whose surviving degree is < ``k``.  Returns
    (node, degree) for the nodes alive after exactly ``rounds`` peels,
    with their degree inside the surviving subgraph.

    Runs a FIXED number of rounds rather than a fixpoint driver loop so
    the result is replayable by an unrolled SQL oracle; real graphs peel
    to fixpoint within a handful of rounds (each round removes the whole
    current shell).

    The iterated state is the NODE-sized keep set, not the edge list:
    because every keep set is a subset of the previous one, restricting
    the edge list round-by-round equals restricting the original list by
    the latest keep set — so each round is two semi-shaped joins of the
    (cached) symmetric edges against the keep set + one degree agg, and
    the per-round lineage cut materializes only node-sized state.  (The
    first version checkpointed the surviving EDGE list each round; at
    16M edges those per-round edge snapshots spilled and peeling went
    8× superlinear — see BENCH.md's graph-scale table.)  No collects;
    survives a 1000-executor scale-up."""
    held: list = []
    und = _persist(_neighbours(_simple_edges(edges, src_col, dst_col)), held)
    alive = und
    for _ in range(rounds):
        # node-bounded lineage cut — rounds compose joins otherwise
        keep = (_degree(alive).where(F.col("degree") >= k)
                .select(F.col("node").alias("u"))
                .localCheckpoint(eager=False))
        alive = (und.join(keep, "u")
                 .join(keep.withColumnRenamed("u", "v"), "v"))
    return _release(_degree(alive), held)


# portable LCG-style mixer shared by random_walks and its SQL oracle.
# The id is pre-reduced mod 2^31−1 so the product can't overflow int64
# even for sparse xxhash64 ids (ANSI mode throws on overflow); for dense
# sorted vocab ids (< 2^31−1) the pre-reduction is the identity, so the
# SQL oracles — which use the unreduced form — replay the same values.
_WALK_MIX = ("pmod(pmod({cur}, 2147483647) * 1103515245"
             " + {step} * 12345 + {seed}, 2147483647)")


def _walk_graph(edges: DataFrame, src_col: str, dst_col: str,
                id_strategy: str, held: list) -> tuple:
    """(vocab, adj, deg) of the directed simple graph of ``edges``:
    vocab (node, id), adj (s_id, d_id, rank) — each node's out-neighbours
    ranked by d_id — and deg (s_id, deg), its out-degree.  adj and deg
    are persisted into ``held``."""
    e = (edges.select(F.col(src_col).alias("s"), F.col(dst_col).alias("d"))
         .where(F.col("s") != F.col("d")).distinct())
    nodes = (e.select(F.col("s").alias("node"))
             .unionAll(e.select(F.col("d").alias("node"))).distinct())
    if id_strategy == "hash":
        vocab = nodes.withColumn("id", F.xxhash64("node"))
    else:
        vocab = nodes.withColumn(
            "id", (F.row_number().over(Window.orderBy("node")) - 1)
            .cast("long"))
    adj = _persist(
        e.join(vocab.withColumnRenamed("node", "s")
               .withColumnRenamed("id", "s_id"), "s")
        .join(vocab.withColumnRenamed("node", "d")
              .withColumnRenamed("id", "d_id"), "d")
        .withColumn("rank", (F.row_number().over(
            Window.partitionBy("s_id").orderBy("d_id")) - 1).cast("long"))
        .select("s_id", "d_id", "rank"), held)
    deg = _persist(adj.groupBy("s_id").agg(F.count(F.lit(1)).alias("deg")),
                   held)
    return vocab, adj, deg


def _walk_step(frontier: DataFrame, adj: DataFrame, deg: DataFrame,
               step: int, seed: int) -> DataFrame:
    """One uniform step: each walk (walk_id, cur) moves to cur's
    out-neighbour of rank LCG_mix(cur, step, seed) mod out-degree; walks
    at a sink stop.  Returns (walk_id, prev, cur)."""
    mix = _WALK_MIX.format(cur="cur", step=step, seed=seed)
    chosen = (frontier
              .join(F.broadcast(deg), frontier.cur == F.col("s_id"))
              .withColumn("pick", F.expr(mix) % F.col("deg"))
              .select("walk_id", F.col("s_id").alias("_from"), "pick"))
    return (chosen
            .join(adj, (F.col("_from") == adj.s_id)
                  & (F.col("pick") == adj.rank))
            .select("walk_id", F.col("s_id").alias("prev"),
                    F.col("d_id").alias("cur")))


def _walk_rows(frontier: DataFrame, step: int) -> DataFrame:
    return frontier.select("walk_id", F.lit(step).alias("step"),
                           F.col("cur").alias("node_id"))


def _walk_corpus(out: DataFrame, vocab: DataFrame) -> DataFrame:
    """Decode the (walk_id, step, node_id) rows to (walk_id, step, node)."""
    return (out
            .join(F.broadcast(vocab.withColumnRenamed("id", "node_id")),
                  "node_id")
            .select("walk_id", F.col("step").cast("int").alias("step"),
                    "node"))


def random_walks(edges: DataFrame, walk_len: int = 3, seed: int = 7,
                 src_col: str = "src", dst_col: str = "dst",
                 id_strategy: str = "sorted") -> DataFrame:
    """Deterministic DeepWalk-style walk corpus over the directed graph:
    one walk per node with outgoing edges, advanced ``walk_len`` steps.
    Output: (walk_id, step, node) — walk_id = the start node's vocabulary
    id, step 0..walk_len; walks stop early at sinks.

    The 'random' choice is a portable LCG mix of (current node id, step,
    seed) modulo out-degree, so a SQL oracle replays the walks exactly —
    and reruns are reproducible across cluster sizes, which is what a
    training-data pipeline needs from its augmentation stages.

    Shape per step: broadcast-join the frontier with the (vocab-sized)
    degree table to compute the chosen rank, then ONE equi-join against
    the rank-indexed adjacency — no neighbor fan-out.

    ``id_strategy``: 'sorted' (default) numbers the vocabulary with a
    global-window row_number — deterministic AND replayable by the SQL
    oracle, with the same documented vocab-sized single-task sort as
    encode_triples.  'hash' derives ids as xxhash64(node): fully
    distributed (no global sort — the 100-TB path), still deterministic
    per node, but not oracle-replayable (DuckDB lacks xxhash64) and
    walk_ids are sparse hashes rather than dense indices."""
    held: list = []
    vocab, adj, deg = _walk_graph(edges, src_col, dst_col, id_strategy, held)
    frontier = deg.select(F.col("s_id").alias("walk_id"),
                          F.col("s_id").alias("cur"))
    out = _walk_rows(frontier, 0)
    for step in range(1, walk_len + 1):
        frontier = _walk_step(frontier, adj, deg, step, seed)
        out = out.unionByName(_walk_rows(frontier, step))
    return _release(_walk_corpus(out, vocab), held)


def conv_graph_stats(triples: DataFrame) -> DataFrame:
    """Per-conversation KG subgraph profile: distinct node count,
    distinct directed edge count, and graph density
    n_edges / (n_nodes·(n_nodes−1)) (null for single-node graphs) —
    the conversation-level signal curation uses to find entity-dense
    vs entity-sparse dialogues.  Two hash aggs + one join, all keyed
    on conv_id (map-side combinable; hot conversations are the same
    skew the extraction stage already salts)."""
    e = triples.select("conv_id", "subj", "obj").distinct()
    nodes = (e.select("conv_id",
                      F.explode(F.array("subj", "obj")).alias("node"))
             .distinct())
    nstats = nodes.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"))
    estats = e.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (nstats.join(estats, "conv_id")
            .withColumn(
                "density",
                F.round(F.col("n_edges")
                        / (F.col("n_nodes") * (F.col("n_nodes") - 1)), 6)))


def biased_random_walks(edges: DataFrame, walk_len: int = 3, seed: int = 7,
                        p_num: int = 1, p_den: int = 1,
                        q_num: int = 1, q_den: int = 1,
                        src_col: str = "src",
                        dst_col: str = "dst") -> DataFrame:
    """node2vec-style second-order walks with rational return/in-out
    biases, fully deterministic and SQL-replayable.

    Transition weights from (prev → cur) to neighbor d of cur, scaled to
    INTEGERS so the weighted choice is exact in both engines:

        d == prev                  → p_den · q_num   (1/p, scaled)
        edge (prev → d) exists     → p_num · q_num   (1, scaled)
        otherwise                  → p_num · q_den   (1/q, scaled)

    i.e. every node2vec weight {1/p, 1, 1/q} is multiplied by
    p_num·q_num, which clears both denominators.  The choice at step t picks the
    first neighbor (in d_id rank order) whose cumulative weight exceeds
    LCG_mix(cur, t, seed) mod total_weight — same mixer as random_walks.
    Step 1 has no previous node and uses the uniform first-order rule,
    matching random_walks exactly.

    Shape per step: the frontier fans out to cur's neighbors (one
    equi-join), flags the return/common cases with one broadcast-able
    membership join against the edge list, then one window per
    (walk_id) computes cumulative weights — heavier than the first-order
    walk by design; node2vec's bias needs the full neighbor row set.
    Output: (walk_id, step, node), walk_id = start node's vocabulary id.
    """
    held: list = []
    vocab, adj, deg = _walk_graph(edges, src_col, dst_col, "sorted", held)
    edge_keys = adj.select(F.col("s_id").alias("_es"),
                           F.col("d_id").alias("_ed")).distinct()

    w_return = p_den * q_num
    w_common = p_num * q_num
    w_other = p_num * q_den

    starts = deg.select(F.col("s_id").alias("walk_id"),
                        F.col("s_id").alias("cur"))
    # step 1: uniform first-order choice (no previous node yet)
    frontier = _walk_step(starts, adj, deg, 1, seed)
    out = _walk_rows(starts, 0).unionByName(_walk_rows(frontier, 1))

    for step in range(2, walk_len + 1):
        cand = (frontier
                .join(adj.select(F.col("s_id").alias("cur"),
                                 F.col("d_id"), F.col("rank")), "cur"))
        cand = (cand
                .join(edge_keys,
                      (cand.prev == F.col("_es"))
                      & (cand.d_id == F.col("_ed")), "left")
                .withColumn(
                    "w",
                    F.when(F.col("d_id") == F.col("prev"),
                           F.lit(w_return))
                    .when(F.col("_es").isNotNull(), F.lit(w_common))
                    .otherwise(F.lit(w_other)).cast("long"))
                .drop("_es", "_ed"))
        ww = Window.partitionBy("walk_id").orderBy("rank")
        mix = _WALK_MIX.format(cur="cur", step=step, seed=seed)
        scored = (cand
                  .withColumn("cum", F.sum("w").over(
                      ww.rowsBetween(Window.unboundedPreceding, 0)))
                  .withColumn("total", F.sum("w").over(
                      Window.partitionBy("walk_id")))
                  .withColumn("pick", F.expr(mix) % F.col("total")))
        nxt = (scored
               .where((F.col("cum") > F.col("pick"))
                      & (F.col("cum") - F.col("w") <= F.col("pick")))
               .select("walk_id", F.col("cur").alias("prev"),
                       F.col("d_id").alias("cur")))
        out = out.unionByName(_walk_rows(nxt, step))
        frontier = nxt
    return _release(_walk_corpus(out, vocab), held)


def kg_role_provenance(triples: DataFrame,
                       transcripts: DataFrame) -> DataFrame:
    """Speaker attribution per distinct fact: how many asserting turns
    were user- vs assistant-authored — the provenance split a KG
    consumer uses to weight human-stated facts differently from
    model-stated ones.  One join back to the (conv, turn, role) keys +
    one map-side-combinable agg."""
    roles = (transcripts
             .select("conv_id", "turn_idx", "role").distinct())
    return (triples
            .select("conv_id", "turn_idx", "subj", "pred", "obj")
            .distinct()
            .join(roles, ["conv_id", "turn_idx"])
            .groupBy("subj", "pred", "obj")
            .agg(F.sum((F.col("role") == "user").cast("long"))
                 .alias("n_user"),
                 F.sum((F.col("role") == "assistant").cast("long"))
                 .alias("n_assistant")))


def match_motif(triples: DataFrame, motif: str) -> DataFrame:
    """Tiny motif matcher over the triple table — the GraphFrames-style
    path-query surface: ``match_motif(t, "(a)-[works_for]->(b)-[located_in]->(c)")``
    returns one row per path instance with one column per named node
    variable (a, b, c, ...).

    Grammar: ``(var)-[pred]->(var)-[pred]->(var)...`` — a linear chain;
    ``pred`` is a literal predicate name, ``var`` any identifier.
    Repeated variables express joins on node identity (cycles):
    ``(a)-[p]->(b)-[q]->(a)`` finds 2-cycles.  Distinct edges only; a
    step never reuses the previous step's exact edge direction-reversed
    trick is NOT applied (paths may revisit edges — standard homomorphic
    motif semantics, same as GraphFrames).

    Plan shape: k−1 hash joins over the distinct edge table, one per
    chain step, each keyed on the shared node variable; Catalyst/AQE
    pick broadcast vs shuffle per step.  No driver-side work beyond
    parsing the pattern string."""
    import re as _re
    steps = _re.findall(
        r"\(\s*(\w+)\s*\)\s*-\s*\[\s*(\w+)\s*\]\s*->\s*(?=\(\s*(\w+)\s*\))",
        motif)
    if not steps:
        raise ValueError(f"unparseable motif: {motif!r}")
    e = triples.select("subj", "pred", "obj").distinct()
    out = None
    bound: list = []
    for src_var, pred, dst_var in steps:
        step = (e.where(F.col("pred") == pred)
                .select(F.col("subj").alias("_s"),
                        F.col("obj").alias("_d")))
        if out is None:
            out = step.select(F.col("_s").alias(src_var),
                              F.col("_d").alias(dst_var))
            bound = [src_var, dst_var]
            continue
        if src_var not in bound:
            raise ValueError(
                f"motif step source {src_var!r} not bound yet — chains "
                f"must be written left to right")
        joined = out.join(step, out[src_var] == step["_s"])
        if dst_var in bound:
            # cycle: the new edge must land on the already-bound node
            out = (joined.where(F.col("_d") == out[dst_var])
                   .drop("_s", "_d"))
        else:
            out = (joined.withColumn(dst_var, F.col("_d"))
                   .drop("_s", "_d"))
            bound.append(dst_var)
    return out.distinct()


def ktruss(edges: DataFrame, k: int = 3, rounds: int = 2,
           src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """k-truss peeling over the undirected simple graph: repeatedly drop
    edges supported by fewer than k−2 triangles.  Returns the surviving
    canonical edges (u < v) with their support after exactly ``rounds``
    peels — the edge-level dense-backbone complement to :func:`kcore`'s
    node-level peeling.

    Fixed round count (SQL-replayable, like kcore); per round the edge
    support is computed by :func:`_triangles` (the kg_triangles
    enumeration) over the surviving edges, and each triangle found —
    exactly once — is exploded to its three canonical edges for one count
    agg.  Oriented out-degree is O(√m), so a celebrity hub cannot melt
    the wedge join (the first version joined the RAW symmetric adjacency
    on both endpoints; a 2%-mass hub at 16M edges put ~10^11 wedge rows
    through one task and never finished — see BENCH.md).  On small DENSE
    hub-free graphs the orientation machinery costs a few× over the
    naive join (sf0.01 contract graph: ~20 s → ~2 min) — the deliberate
    price for an op that cannot melt at cluster scale.  The surviving
    edge set only shrinks; each round ends in a lazy lineage cut so
    rounds don't compose joins."""
    held: list = []
    e = _persist(_simple_edges(edges, src_col, dst_col), held)
    need = k - 2
    sup = None
    for _ in range(rounds):
        tri = _triangles(e, _degree(_neighbours(e)))
        corners = (tri.select(F.least("a", "b").alias("u"),
                              F.greatest("a", "b").alias("v"))
                   .unionAll(tri.select(F.least("a", "c").alias("u"),
                                        F.greatest("a", "c").alias("v")))
                   .unionAll(tri.select(F.least("b", "c").alias("u"),
                                        F.greatest("b", "c").alias("v"))))
        sup = (corners.groupBy("u", "v")
               .agg(F.count(F.lit(1)).cast("long").alias("support")))
        kept = sup.where(F.col("support") >= need).select("u", "v")
        e = kept.localCheckpoint(eager=False)
        sup = sup.localCheckpoint(eager=False)
    if sup is None:  # rounds == 0
        return _release(e.withColumn("support", F.lit(0).cast("long")), held)
    return _release(e.join(sup, ["u", "v"]).select("u", "v", "support"),
                    held)


def transitive_closure(edges: DataFrame, src_col: str = "src",
                       dst_col: str = "dst", max_rounds: int = 16,
                       checkpoint_dir: str | None = None) -> DataFrame:
    """Irreflexive transitive closure with min hop distance:
    (src, dst, dist) for every pair with a directed path, dist ≥ 1.

    Path doubling: round k holds every shortest path of ≤ 2^k edges, so
    convergence takes O(log diameter) rounds — each one self-join +
    min-agg — instead of the O(diameter) of single-step expansion.  The
    fixpoint test reads (pair count, Σdist) in ONE agg action per round;
    both are monotone (pairs only appear, dists only shrink), so equality
    means converged.

    Scale note: a closure is |reachable pairs|-sized — quadratic on dense
    graphs.  The intended 100 TB use is hierarchical predicate subgraphs
    (isA / part-of chains, org trees), where the closure is a small
    multiple of the input; run it on the filtered predicate slice, not
    the whole KG.  ``checkpoint_dir`` makes long runs executor-loss-safe
    (see _lineage_cut).
    """
    e = (edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
         .where(F.col("src") != F.col("dst")).distinct()
         .withColumn("dist", F.lit(1).cast("int")))
    paths = e.persist(StorageLevel.MEMORY_AND_DISK)
    prev = None
    for _ in range(max_rounds):
        a = paths.select(F.col("src"), F.col("dst").alias("_mid"),
                         F.col("dist").alias("_d1"))
        b = paths.select(F.col("src").alias("_mid"),
                         F.col("dst").alias("_dst2"),
                         F.col("dist").alias("_d2"))
        doubled = (a.join(b, "_mid")
                   .where(F.col("src") != F.col("_dst2"))
                   .select("src", F.col("_dst2").alias("dst"),
                           (F.col("_d1") + F.col("_d2")).alias("dist")))
        new = (paths.select("src", "dst", "dist").union(doubled)
               .groupBy("src", "dst")
               .agg(F.min("dist").cast("int").alias("dist")))
        new = _lineage_cut(new, checkpoint_dir, eager=False)
        stats = new.agg(F.count(F.lit(1)).alias("n"),
                        F.sum("dist").alias("s")).first()
        cur = (stats["n"], stats["s"])
        paths = new
        if cur == prev:
            break
        prev = cur
    # the final paths are checkpoint-materialized by the last stats
    # action, so the seed-edge cache can be released eagerly
    e.unpersist()
    return paths.select("src", "dst", "dist")


def _labelled_edges(edges: DataFrame, labels: DataFrame, src_col: str,
                    dst_col: str, node_col: str, label_col: str) -> tuple:
    """(ce, lab, el): the simple edges ``ce`` (u, v), the labels as
    (node, label), and ``el`` — each labelled edge with its endpoints'
    labels (lu, lv)."""
    ce = _simple_edges(edges, src_col, dst_col)
    lab = labels.select(F.col(node_col).alias("node"),
                        F.col(label_col).alias("label"))
    el = (ce.join(lab.select(F.col("node").alias("u"),
                             F.col("label").alias("lu")), "u")
          .join(lab.select(F.col("node").alias("v"),
                           F.col("label").alias("lv")), "v"))
    return ce, lab, el


def modularity(edges: DataFrame, labels: DataFrame,
               src_col: str = "src", dst_col: str = "dst",
               node_col: str = "node",
               label_col: str = "label") -> DataFrame:
    """Newman modularity terms per community over the undirected simple
    graph: q_term = L_c/m − (D_c/2m)², so Q = Σ q_term — the standard
    quality score for a community assignment (e.g. label_propagation
    output).  Returns (community, n_nodes, internal_edges, degree_sum,
    q_term).

    All heavy steps are hash aggs on node/edge keys; m is a one-row agg
    broadcast into the final projection (no driver round-trip)."""
    ce, lab, el = _labelled_edges(edges, labels, src_col, dst_col,
                                  node_col, label_col)
    m_df = ce.agg(F.count(F.lit(1)).alias("m"))
    intra = (el.where(F.col("lu") == F.col("lv"))
             .groupBy(F.col("lu").alias("community"))
             .agg(F.count(F.lit(1)).cast("long").alias("internal_edges")))

    cd = (lab.join(_degree(_neighbours(ce)), "node")
          .groupBy(F.col("label").alias("community"))
          .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"),
               F.sum("degree").cast("long").alias("degree_sum")))

    out = (cd.join(intra, "community", "left")
           .withColumn("internal_edges",
                       F.coalesce("internal_edges", F.lit(0)).cast("long"))
           .crossJoin(F.broadcast(m_df)))
    half = F.col("degree_sum").cast("double") / (2.0 * F.col("m"))
    # + 0.0 normalizes IEEE −0.0 to +0.0 after rounding (engines differ)
    q = F.round(F.col("internal_edges").cast("double") / F.col("m")
                - half * half, 6) + F.lit(0.0)
    return out.select("community", "n_nodes", "internal_edges",
                      "degree_sum", q.alias("q_term"))


def quotient_graph(edges: DataFrame, labels: DataFrame,
                   src_col: str = "src", dst_col: str = "dst",
                   node_col: str = "node",
                   label_col: str = "label") -> DataFrame:
    """Community-contracted coarse graph: every undirected simple edge
    mapped to its endpoint communities, counted.  Self-loop rows
    (c_u == c_v) carry the internal-edge weight, so the quotient + the
    node labels reconstruct the community-level structure exactly.
    Returns (c_u, c_v, weight) with c_u ≤ c_v."""
    _, _, el = _labelled_edges(edges, labels, src_col, dst_col,
                               node_col, label_col)
    return (el.select(F.least("lu", "lv").alias("c_u"),
                    F.greatest("lu", "lv").alias("c_v"))
            .groupBy("c_u", "c_v")
            .agg(F.count(F.lit(1)).cast("long").alias("weight")))


def neighborhood_features(triples: DataFrame) -> DataFrame:
    """GraphSAGE-style 1-hop neighborhood feature table per node — the
    tabular companion to the walk corpus / negative samples for training
    graph models on the KG: each node's own degree profile plus
    aggregates of its out-neighbors' connectivity.

    Output per node: (node, out_degree, in_degree, n_preds_out,
    n_nbrs_out, nbr_out_degree_sum, nbr_out_degree_max,
    nbr_out_degree_mean) — mean is one IEEE division of exact longs,
    rounded to 6 decimals (nodes with no out-neighbors report 0 sums and
    NULL mean).

    Shape: the degree profile (two map-side aggs) joined to one
    edge⋈degree pass aggregated back per source — three hash
    shuffles on node keys, no row explosion beyond the edge table; hot
    hubs skew exactly like every degree agg (AQE handles it).
    """
    e = triples.select("subj", "pred", "obj").distinct()
    deg = kg_degrees(e)
    preds_out = (e.groupBy(F.col("subj").alias("node"))
                 .agg(F.countDistinct("pred").alias("n_preds_out")))
    nbr = (e.select(F.col("subj").alias("node"), F.col("obj").alias("nbr"))
           .distinct()
           .join(deg.select(F.col("node").alias("nbr"),
                            F.col("out_degree").alias("nbr_od")), "nbr")
           .groupBy("node")
           .agg(F.count(F.lit(1)).cast("long").alias("n_nbrs_out"),
                F.sum("nbr_od").cast("long").alias("nbr_out_degree_sum"),
                F.max("nbr_od").cast("long").alias("nbr_out_degree_max")))
    return (deg.join(preds_out, "node", "left")
            .join(nbr, "node", "left")
            .select(
                "node",
                F.col("out_degree").cast("long").alias("out_degree"),
                F.col("in_degree").cast("long").alias("in_degree"),
                F.coalesce("n_preds_out", F.lit(0)).cast("long")
                .alias("n_preds_out"),
                F.coalesce("n_nbrs_out", F.lit(0)).cast("long")
                .alias("n_nbrs_out"),
                F.coalesce("nbr_out_degree_sum", F.lit(0)).cast("long")
                .alias("nbr_out_degree_sum"),
                F.coalesce("nbr_out_degree_max", F.lit(0)).cast("long")
                .alias("nbr_out_degree_max"),
                (F.round(F.col("nbr_out_degree_sum")
                         / F.col("n_nbrs_out"), 6) + F.lit(0.0))
                .alias("nbr_out_degree_mean")))


def infer_node_types(edges: DataFrame, seed_types: DataFrame,
                     n_rounds: int = 2,
                     src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """KG completion: propagate entity types from typed seed nodes to
    untyped neighbors by majority vote, ``n_rounds`` hops out — the
    type-inference pass for mentions the entity dictionary could not
    link (their class is usually recoverable from what they connect to).

    Each round, every still-untyped node adjacent (undirected) to typed
    nodes adopts the majority neighbor type, ties broken by type name
    ascending — deterministic, so the rounds replay exactly in SQL.
    Output: (node, type, round) with round 0 = seed, k = inferred in
    round k.  Nodes never reached stay absent.

    Shape: per round one join of the symmetric edge set against the
    typed frontier + one argmax agg — label propagation's cost profile
    with an anti-join instead of relabeling; O(n_rounds) shuffles total.
    """
    nbr = _neighbours(_simple_edges(edges, src_col, dst_col))
    typed = seed_types.select("node", "type",
                              F.lit(0).alias("round"))
    for k in range(1, int(n_rounds) + 1):
        votes = (nbr.join(typed.select(F.col("node").alias("u"), "type"),
                          "u")
                 .join(typed.select(F.col("node").alias("v")), "v",
                       "left_anti")
                 .groupBy(F.col("v").alias("node"), "type")
                 .agg(F.count(F.lit(1)).alias("n")))
        w = Window.partitionBy("node").orderBy(F.col("n").desc(),
                                               F.col("type").asc())
        picked = (votes.withColumn("_r", F.row_number().over(w))
                  .where(F.col("_r") == 1)
                  .select("node", "type", F.lit(k).alias("round")))
        typed = typed.unionByName(picked)
    return typed


def ego_subgraph(edges: DataFrame, seeds: DataFrame, k: int = 1,
                 src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Ego network extraction: the edges whose BOTH endpoints lie within
    ``k`` undirected hops of the seed set — the per-entity subgraph
    behind every "entity card" / neighborhood-inspection query a KG
    consumer runs.

    Output: the qualifying edges (src, dst, src_dist, dst_dist) with
    each endpoint's hop distance.  Composition of :func:`bfs_levels`
    (node-sized distance table) with two semi-shaped joins back onto the
    edge table — no explosion beyond the edge rows themselves; at 100 TB
    the distance table is broadcastable for small ego radii.
    """
    dist = bfs_levels(edges, seeds, max_depth=k,
                      src_col=src_col, dst_col=dst_col)
    e = (edges.select(F.col(src_col).alias("src"),
                      F.col(dst_col).alias("dst"))
         .where(F.col("src") != F.col("dst")).distinct())
    return (e.join(dist.select(F.col("node").alias("src"),
                               F.col("dist").alias("src_dist")), "src")
            .join(dist.select(F.col("node").alias("dst"),
                              F.col("dist").alias("dst_dist")), "dst")
            .select("src", "dst", "src_dist", "dst_dist"))


def apply_component_delta(old_labels: DataFrame, new_pairs: DataFrame,
                          src_col: str = "a_id", dst_col: str = "b_id",
                          checkpoint_dir: str | None = None) -> DataFrame:
    """Incremental connected components: fold a batch of NEW pairs into
    an existing (node, component) labeling without touching old edges.

    New pairs are projected onto component labels (endpoints unknown to
    the old labeling label themselves), the min-label fixpoint runs on
    that LABEL-level quotient graph — bounded by the number of
    components the batch touches, not the graph — and old labels are
    remapped through the result.  Equals
    ``connected_components(old_edges ∪ new_pairs)`` exactly (min-label
    canonicals: the merged component's label is the min of its merged
    labels, which is the global min of its nodes); pinned by the
    recompute-equality pytest and the ``dedup_components_incremental``
    oracle.

    At stream scale this is the O(|batch|) path that keeps the
    dedup-cluster store current per micro-batch instead of re-running
    components over every edge ever seen.
    """
    lab = old_labels.select("node", "component")
    a = (new_pairs.select(F.col(src_col).alias("node"))
         .unionAll(new_pairs.select(F.col(dst_col).alias("node"))))
    new_nodes = a.distinct().join(lab.select("node"), "node", "left_anti")
    lab_all = lab.unionByName(
        new_nodes.select("node", F.col("node").alias("component")))
    la = lab_all.withColumnRenamed("node", "_n").withColumnRenamed(
        "component", "_la")
    lb = lab_all.withColumnRenamed("node", "_m").withColumnRenamed(
        "component", "_lb")
    label_pairs = (new_pairs
                   .join(la, new_pairs[src_col] == F.col("_n"))
                   .join(lb, new_pairs[dst_col] == F.col("_m"))
                   .select(F.col("_la").alias("a_id"),
                           F.col("_lb").alias("b_id"))
                   .where(F.col("a_id") != F.col("b_id")).distinct())
    merged = connected_components(label_pairs,
                                  checkpoint_dir=checkpoint_dir)
    return (lab_all
            .join(merged.select(F.col("node").alias("component"),
                                F.col("component").alias("_new")),
                  "component", "left")
            .select("node",
                    F.coalesce("_new", F.col("component"))
                    .alias("component")))


def apply_triangle_delta(old_stats: DataFrame, old_edges: DataFrame,
                         new_pairs: DataFrame, src_col: str = "u",
                         dst_col: str = "v",
                         cache: bool = True,
                         old_is_canonical: bool = False) -> DataFrame:
    """Incremental per-node triangle counts: fold a batch of NEW edges
    into an existing :func:`kg_triangles` profile without re-enumerating
    the old graph's wedges.

    ``old_stats`` is kg_triangles(old snapshot); ``old_edges`` the old
    snapshot's edge set (any direction/duplication — canonicalized
    here, unless ``old_is_canonical`` says it already holds each edge
    once as ``u < v``: then it is read as it is, neither re-deduplicated
    nor persisted again); ``new_pairs`` the batch.  Added triangles
    contain 1, 2 or 3 novel edges — three DISJOINT cases, each
    enumerated exactly once:

      1 novel edge (u,v)  — common old-neighbors w of u and v;
      2 novel edges       — wedges centered on the shared node of two
                            novel edges, closed by an old edge (the
                            center is unique per triangle);
      3 novel edges       — :func:`_triangles` within the batch,
                            ordered by batch degree.

    Cases 1 and 2 are one :func:`_close_wedges` each, called as
    (novel edges, old adjacency) and (old closing edges, novel
    adjacency).

    Per-batch cost: TWO broadcast-semi-join scans of the old edge set
    (never shuffled, never self-joined — with a node-bucketed store
    they prune to the touched buckets) reduce it to the edges TOUCHING
    a batch endpoint; every wedge join then runs on that batch-sized
    slice, O(|Δ| · avg_degree) work.  The batch's endpoint set is
    broadcast, so a single batch must be micro-batch-sized (the
    streaming-maintenance contract), not a second graph.
    Output schema and values equal kg_triangles(old ∪ new) exactly
    (clustering recomputed from the merged degrees) — pinned by the
    recompute-equality pytest and the kg_triangles_incremental oracle.
    ``cache`` persists the batch-sized slices (and the canonicalized old
    edges), released once the result is pinned.
    """
    held = [] if cache else None
    if old_is_canonical:
        e_old = old_edges.select(F.col(src_col).alias("u"),
                                 F.col(dst_col).alias("v"))
    else:
        e_old = _persist(_simple_edges(old_edges, src_col, dst_col), held)
    cand = _simple_edges(new_pairs, src_col, dst_col)
    touched = (cand.select(F.col("u").alias("node"))
               .unionAll(cand.select(F.col("v").alias("node")))
               .distinct())
    # old edges with a touched endpoint — the only part of the old
    # graph any added triangle can use.  Broadcast semi-joins: the old
    # edge set streams by once per side, nothing graph-sized shuffles.
    e_u = e_old.join(F.broadcast(touched.select(F.col("node").alias("u"))),
                     "u", "left_semi")
    e_v = e_old.join(F.broadcast(touched.select(F.col("node").alias("v"))),
                     "v", "left_semi")
    # both endpoints touched: the case-2 closing edges, and every old
    # edge a batch candidate could collide with (its endpoints are
    # touched by definition) — so the novelty anti-join runs against
    # this batch-sized slice, not the full old set
    e_both = _persist(
        e_u.join(F.broadcast(touched.select(F.col("node").alias("v"))),
                 "v", "left_semi"), held)
    delta = _persist(cand.join(e_both, ["u", "v"], "left_anti"), held)
    # every old edge at a touched node, from its touched side(s) —
    # both-touched edges appear in both directions
    adj_t = _persist(e_u.unionAll(e_v.select(F.col("v").alias("u"),
                                             F.col("u").alias("v"))), held)
    adj_new = _neighbours(delta)

    # case 1: novel (u,v) closed by two old edges through w, expanded
    # from the lower-old-degree endpoint.  w == v is impossible — (u,w)
    # old and w == v would put (u,v) in the old set, contradicting the
    # anti-join above.
    # case 2: two novel edges (c,p), (c,q) sharing center c, closed by
    # old (p,q) — enumerated from the OLD closing edge and expanded from
    # its lower-BATCH-degree endpoint, so a batch celebrity center costs
    # Σ min(dΔ(p), dΔ(q)), not dΔ(c)².  c == q is impossible for the same
    # anti-join reason.
    # case 3: triangles entirely inside the batch, degree-ordered by
    # batch degree, so a batch celebrity keeps O(√|Δ|) out-degree.
    tri = (_close_wedges(delta, adj_t)
           .unionAll(_close_wedges(e_both, adj_new))
           .unionAll(_triangles(delta, _degree(adj_new))))
    # degrees added by the batch, counted off the exploded endpoints: the
    # _degree(adj_new) form plans one more Spark job inside this query
    deg_add = (delta.select(F.explode(F.array("u", "v")).alias("node"))
               .groupBy("node").agg(F.count(F.lit(1)).alias("_d_add")))
    merged = (old_stats.select("node", "degree", "triangles")
              .join(deg_add, "node", "full_outer")
              .join(_corners(tri), "node", "left")
              .select(
                  "node",
                  (F.coalesce("degree", F.lit(0))
                   + F.coalesce("_d_add", F.lit(0))).alias("degree"),
                  (F.coalesce("triangles", F.lit(0))
                   + F.coalesce("_t", F.lit(0))).cast("bigint")
                  .alias("triangles")))
    return _release(_with_clustering(merged), held)
