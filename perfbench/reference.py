"""Seeded inputs and the independent oracles the benchmark checks against.

Nothing here calls the library: the TPC-H tables are drawn with NumPy,
the expected triples follow from the transcript template
('Customer C<ck> works for Supplier S<sk> in Nation N<nk>.') by plain
pandas joins, and the graph analytics are recomputed in pure Python.
"""

from __future__ import annotations

import os
from collections import defaultdict

import numpy as np
import pandas as pd

N_NATIONS = 25


def write_tpch(out_dir: str, seed: int, n_orders: int, n_customers: int,
               n_suppliers: int) -> None:
    """The five TPC-H columns ``tpch_transcripts_df`` and the contract's
    entity dictionary read, drawn from ``seed``; 1-7 lineitems per order
    with unique (orderkey, linenumber)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, frame: pd.DataFrame) -> None:
        frame.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)

    put("customer", pd.DataFrame({"c_custkey": np.arange(1, n_customers + 1)}))
    put("supplier", pd.DataFrame({
        "s_suppkey": np.arange(1, n_suppliers + 1),
        "s_nationkey": rng.integers(0, N_NATIONS, n_suppliers)}))
    put("nation", pd.DataFrame({"n_nationkey": np.arange(N_NATIONS)}))
    put("orders", pd.DataFrame({
        "o_orderkey": np.arange(1, n_orders + 1),
        "o_custkey": rng.integers(1, n_customers + 1, n_orders)}))
    lines = rng.integers(1, 8, n_orders)
    orderkey = np.repeat(np.arange(1, n_orders + 1), lines)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines])
    shipdate = (pd.Timestamp("1995-01-01")
                + pd.to_timedelta(rng.integers(0, 365, len(orderkey)), "D"))
    put("lineitem", pd.DataFrame({
        "l_orderkey": orderkey, "l_linenumber": linenumber,
        "l_suppkey": rng.integers(1, n_suppliers + 1, len(orderkey)),
        "l_shipdate": shipdate.date}))


def tpch_gold(sf_dir: str) -> pd.DataFrame:
    """Expected (conv_id, turn_idx, subj, pred, obj) rows, distinct."""
    def read(name):
        return pd.read_parquet(os.path.join(sf_dir, f"{name}.parquet"))
    base = (read("lineitem")
            .merge(read("orders"), left_on="l_orderkey", right_on="o_orderkey")
            .merge(read("supplier"), left_on="l_suppkey", right_on="s_suppkey"))
    conv = "conv-" + base["l_orderkey"].astype(str)
    turn = base["l_linenumber"].astype("int32")
    cust = "Customer C" + base["o_custkey"].astype(str)
    supp = "Supplier S" + base["s_suppkey"].astype(str)
    nat = "Nation N" + base["s_nationkey"].astype(str)
    works = pd.DataFrame({"conv_id": conv, "turn_idx": turn, "subj": cust,
                          "pred": "works_for", "obj": supp})
    based = pd.DataFrame({"conv_id": conv, "turn_idx": turn, "subj": supp,
                          "pred": "located_in", "obj": nat})
    return pd.concat([works, based]).drop_duplicates().reset_index(drop=True)


TRIPLE_KEYS = ["conv_id", "turn_idx", "subj", "pred", "obj"]


def triple_set(frame: pd.DataFrame) -> set:
    return set(frame[TRIPLE_KEYS].itertuples(index=False, name=None))


def same_triples(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the row multisets agree, else a one-line reason.  A
    duplicate (conv, turn, s, p, o) row counts as a mismatch: the
    extraction dedups per turn."""
    got_set = triple_set(got)
    if len(got_set) != len(got):
        return f"{len(got) - len(got_set)} duplicate triple rows"
    want_set = triple_set(want)
    if got_set != want_set:
        return (f"{len(got_set - want_set)} unexpected, "
                f"{len(want_set - got_set)} missing triples")
    return None


# --- graph references ------------------------------------------------------

def ref_degrees(spo: list[tuple]) -> dict:
    out, inn = defaultdict(int), defaultdict(int)
    for s, _, o in set(spo):
        out[s] += 1
        inn[o] += 1
    return {n: (out.get(n, 0), inn.get(n, 0)) for n in set(out) | set(inn)}


def ref_pagerank(pairs: list[tuple], n_iter: int = 3,
                 damping: float = 0.85) -> dict:
    edges = set(pairs)
    nodes = {x for e in edges for x in e}
    n = len(nodes)
    out_d = defaultdict(int)
    for s, _ in edges:
        out_d[s] += 1
    rank = dict.fromkeys(nodes, 1.0 / n)
    for _ in range(n_iter):
        inc = defaultdict(float)
        for s, d in edges:
            inc[d] += rank[s] / out_d[s]
        rank = {v: (1.0 - damping) / n + damping * inc.get(v, 0.0)
                for v in nodes}
    return rank


def _undirected(pairs: list[tuple]) -> dict:
    adj = defaultdict(set)
    for u, v in pairs:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    return adj


def ref_triangles(pairs: list[tuple]) -> dict:
    """node -> (degree, triangles) over the undirected simple graph."""
    adj = _undirected(pairs)
    out = {}
    for u, nbrs in adj.items():
        t = sum(len(nbrs & adj[v]) for v in nbrs) // 2
        out[u] = (len(nbrs), t)
    return out


def ref_components(pairs: list[tuple]) -> dict:
    """node -> minimum node id of its component."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in list(parent)}


def ref_kcore(pairs: list[tuple], k: int, rounds: int) -> dict:
    """node -> degree inside the survivors of exactly ``rounds`` peels
    (the fixed-round semantics of graph.kcore)."""
    adj = _undirected(pairs)
    keep = set(adj)
    for _ in range(rounds):
        keep = {u for u in keep if len(adj[u] & keep) >= k}
    return {u: len(adj[u] & keep) for u in keep if adj[u] & keep}
