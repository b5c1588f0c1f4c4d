"""Similarity search over embedding columns.

Two families, both fully distributed (NO driver-side collect of the vector
table — the round-1 `collect()`+broadcast baseline could not survive the
10^9-vector scale this engine targets):

  * block_matmul_top_k / block_matmul_pairs — the EXACT path.  Vectors are
    packed into block rows (``pmod(id, B)`` → ``collect_list`` of ≤
    ``block_rows`` (id, vec) structs, sorted by id), the packed tables are
    cross-joined block-against-block, and each (query-block, cand-block)
    pair runs a chunked float64 matmul inside one Arrow task.  Per-block
    partial top-k rows are reduced to the global top-k with a window —
    union-of-partials provably contains the global top-k under the
    (-cos, id) ordering.  Cost is the inherent O(N·M) of exact all-pairs,
    but spread over B² independent tasks with O(block²) memory each; an
    explicit ``max_rows`` guard refuses inputs where exact search is the
    wrong tool and points at the LSH path.
  * lsh_bucketed_top_k / lsh_bucketed_pairs — the SCALE path.  ``n_tables``
    independent random-hyperplane signatures (banding for recall), with
    ``n_planes`` derived from N so the expected bucket size stays near
    ``target_bucket_rows`` instead of round 1's fixed 256 buckets.  The
    signature is computed in the same Arrow pass that carries the payload
    (no re-join with the vector table), exact scoring runs per
    (table, bucket) in row chunks (never an O(bucket²) matrix in memory),
    and per-table partials are deduped then window-reduced globally.

All paths use deterministic tie-breaking (rounded cosine desc, candidate
id asc) so results are reproducible across engines and partitionings.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (
    DoubleType, IntegerType, LongType, StructField, StructType,
)

TOPK_SCHEMA = StructType([
    StructField("a_id", LongType()),
    StructField("b_id", LongType()),
    StructField("cos_sim", DoubleType()),
    StructField("rank", IntegerType()),
])

PARTIAL_SCHEMA = StructType([
    StructField("a_id", LongType()),
    StructField("b_id", LongType()),
    StructField("cos_sim", DoubleType()),
])

PAIRS_SCHEMA = PARTIAL_SCHEMA


def _unpack(pack) -> tuple[np.ndarray, np.ndarray]:
    """(ids, unit-normalized matrix) from a pack of {id, vec} structs.

    Packs are built with sort_array(collect_list(struct(id, vec))) so ids
    arrive ascending — downstream stable argsorts then break cosine ties
    by candidate id automatically.
    """
    ids = np.fromiter((e["id"] for e in pack), dtype=np.int64,
                      count=len(pack))
    mat = np.array([e["vec"] for e in pack], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    return ids, mat / norms[:, None]


def _unit(mat: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    return mat / norms[:, None]


def _pack_blocks(df: DataFrame, id_col: str, vec_col: str,
                 n_blocks: int) -> DataFrame:
    """Pack vectors into n_blocks rows of (block, sorted [{id, vec}]).

    Block assignment hashes the id first — pmod on RAW ids lets strided
    or common-factor id spaces (sharded/snowflake ids) collapse into a
    few giant packs, breaking the O(block²) per-task memory bound.
    """
    entry = F.struct(F.col(id_col).cast("long").alias("id"),
                     F.col(vec_col).cast("array<double>").alias("vec"))
    return (df
            .select(F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks))
                    .cast("int").alias("block"), entry.alias("e"))
            .groupBy("block")
            .agg(F.sort_array(F.collect_list("e")).alias("pack")))


def _count_guard(embeddings: DataFrame, max_rows: int, op: str,
                 n_rows: int | None = None) -> int:
    n = embeddings.count() if n_rows is None else n_rows
    if max_rows is not None and n > max_rows:
        raise ValueError(
            f"{op}: {n} vectors exceeds max_rows={max_rows}. Exact all-pairs "
            "search at this size is the wrong tool — use lsh_bucketed_top_k/"
            "lsh_bucketed_pairs, or raise max_rows explicitly.")
    return n


class _PackCache:
    """Tiny per-task LRU so a block pack is unpacked once, not B times."""

    def __init__(self, cap: int = 16):
        self.cap = cap
        self.d: dict = {}

    def get(self, key, pack):
        hit = self.d.get(key)
        if hit is not None:
            return hit
        val = _unpack(pack)
        if len(self.d) >= self.cap:
            self.d.pop(next(iter(self.d)))
        self.d[key] = val
        return val


def _topk_partials(q_ids, q_unit, c_ids, c_unit, k, round_decimals,
                   chunk_rows):
    """Per-query top-k of this candidate block, chunked; yields dict cols."""
    for lo in range(0, len(q_ids), chunk_rows):
        hi = min(lo + chunk_rows, len(q_ids))
        sims = np.round(q_unit[lo:hi] @ c_unit.T, round_decimals)
        # stable argsort on -cos → ties resolved by ascending candidate id
        # (c_ids arrive sorted).  k+1 columns so dropping self still leaves k.
        take = min(k + 1, sims.shape[1])
        idx = np.argsort(-sims, axis=1, kind="stable")[:, :take]
        a_out, b_out, s_out = [], [], []
        for i in range(hi - lo):
            a_id = q_ids[lo + i]
            kept = 0
            for j in idx[i]:
                b_id = c_ids[j]
                if b_id == a_id:
                    continue
                a_out.append(a_id)
                b_out.append(b_id)
                s_out.append(sims[i, j])
                kept += 1
                if kept == k:
                    break
        yield {"a_id": np.asarray(a_out, dtype=np.int64),
               "b_id": np.asarray(b_out, dtype=np.int64),
               "cos_sim": np.asarray(s_out, dtype=np.float64)}


def _global_top_k(partials: DataFrame, k: int) -> DataFrame:
    """Reduce per-block partial top-k rows to the global top-k + rank."""
    w = Window.partitionBy("a_id").orderBy(F.col("cos_sim").desc(),
                                           F.col("b_id").asc())
    return (partials
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("a_id", "b_id", "cos_sim",
                    F.col("rank").cast("int").alias("rank")))


def block_matmul_top_k(embeddings: DataFrame, k: int = 1,
                       round_decimals: int = 4,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       block_rows: int = 4096, chunk_rows: int = 1024,
                       max_rows: int = 4_000_000,
                       n_rows: int | None = None) -> DataFrame:
    """Exact cosine top-k per vector (self excluded), fully distributed.

    Block-partitioned matmul: pack → crossJoin(B×B block pairs) → chunked
    matmul per pair → window reduce.  No vector ever touches the driver.
    ``n_rows`` lets callers that already counted skip the count job.
    """
    n = _count_guard(embeddings, max_rows, "block_matmul_top_k", n_rows)
    n_blocks = max(1, math.ceil(n / block_rows))
    packed = _pack_blocks(embeddings, id_col, vec_col, n_blocks)
    a = packed.select(F.col("block").alias("a_block"),
                      F.col("pack").alias("a_pack"))
    b = packed.select(F.col("block").alias("b_block"),
                      F.col("pack").alias("b_pack"))
    pairs = a.crossJoin(b)

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache = _PackCache()
        for pdf in it:
            for row in pdf.itertuples(index=False):
                q_ids, q_unit = cache.get(("a", row.a_block), row.a_pack)
                c_ids, c_unit = cache.get(("b", row.b_block), row.b_pack)
                for cols in _topk_partials(q_ids, q_unit, c_ids, c_unit,
                                           k, round_decimals, chunk_rows):
                    yield pd.DataFrame(cols)

    partials = pairs.mapInPandas(run, PARTIAL_SCHEMA)
    return _global_top_k(partials, k)


def block_matmul_pairs(embeddings: DataFrame, threshold: float = 0.95,
                       round_decimals: int = 4,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       block_rows: int = 4096, chunk_rows: int = 1024,
                       max_rows: int = 4_000_000,
                       n_rows: int | None = None) -> DataFrame:
    """All (a_id < b_id) pairs with cosine ≥ threshold, fully distributed.

    Same block shape as block_matmul_top_k but the crossJoin is restricted
    to a_block ≤ b_block (each unordered block pair scored once) and the
    kernel emits canonically-ordered thresholded pairs — no reduce needed.
    """
    n = _count_guard(embeddings, max_rows, "block_matmul_pairs", n_rows)
    n_blocks = max(1, math.ceil(n / block_rows))
    packed = _pack_blocks(embeddings, id_col, vec_col, n_blocks)
    a = packed.select(F.col("block").alias("a_block"),
                      F.col("pack").alias("a_pack"))
    b = packed.select(F.col("block").alias("b_block"),
                      F.col("pack").alias("b_pack"))
    pairs = a.crossJoin(b).where(F.col("a_block") <= F.col("b_block"))

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache = _PackCache()
        for pdf in it:
            for row in pdf.itertuples(index=False):
                q_ids, q_unit = cache.get(("a", row.a_block), row.a_pack)
                c_ids, c_unit = cache.get(("b", row.b_block), row.b_pack)
                same = row.a_block == row.b_block
                for lo in range(0, len(q_ids), chunk_rows):
                    hi = min(lo + chunk_rows, len(q_ids))
                    sims = np.round(q_unit[lo:hi] @ c_unit.T, round_decimals)
                    keep = sims >= threshold
                    if same:
                        keep &= q_ids[lo:hi, None] < c_ids[None, :]
                    qi, cj = np.nonzero(keep)
                    lhs = q_ids[lo:hi][qi]
                    rhs = c_ids[cj]
                    yield pd.DataFrame({
                        "a_id": np.minimum(lhs, rhs),
                        "b_id": np.maximum(lhs, rhs),
                        "cos_sim": sims[qi, cj].astype(np.float64),
                    })

    return pairs.mapInPandas(run, PAIRS_SCHEMA)


# Backwards-compatible name: the "brute force" top-k entry point now runs
# the distributed block matmul (same results, same determinism, no collect()).
def brute_force_top_k(embeddings: DataFrame, k: int = 1,
                      round_decimals: int = 4,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding", **kw) -> DataFrame:
    """Exact cosine top-k per vector — alias of block_matmul_top_k."""
    return block_matmul_top_k(embeddings, k=k, round_decimals=round_decimals,
                              id_col=id_col, vec_col=vec_col, **kw)


# ---------------------------------------------------------------------------
# LSH (approximate, the ≥10^7-vector path)
# ---------------------------------------------------------------------------

def _auto_planes(n: int, target_bucket_rows: int) -> int:
    """Bucket count that keeps the expected bucket near target size.

    2^planes ≈ N / target  →  planes = log2(N / target), clamped to [2, 24]
    (4 buckets minimum so tiny inputs still hash; 16M buckets is plenty —
    beyond that, raise target_bucket_rows instead).
    """
    return max(2, min(_MAX_PLANES, math.ceil(
        math.log2(max(n, 2) / max(target_bucket_rows, 1)))))


_MAX_PLANES = 24  # _auto_planes cap; also the stable plane-draw width


def _lsh_planes(seed: int, n_tables: int, n_planes: int,
                dim: int) -> np.ndarray:
    """Random hyperplanes as a STABLE PREFIX of a fixed-width draw.

    Drawing ``randn(n_tables, n_planes, dim)`` directly would make every
    table's planes depend on the *derived* n_planes (row-major fill), so
    the same seed would bucket differently at different N.  Drawing at the
    _MAX_PLANES cap and slicing keeps plane (t, j) identical for every
    n_planes ≤ 24 — which is what lets an external oracle replay the
    bucketing from (seed, dim) alone, without knowing N.
    """
    width = max(n_planes, _MAX_PLANES)
    rng = np.random.RandomState(seed)
    return rng.randn(n_tables, width, dim)[:, :n_planes, :]


# --- hot-bucket bounding -----------------------------------------------
#
# A near-dup corpus is correlated BY DEFINITION: a mega-cluster of
# duplicates lands in the same bucket of every table (LSH) / the same
# posting list (IVF), and a per-group applyInPandas task would
# materialize the whole group — chunked scoring bounds the sims matrix
# but not the O(group_rows × dim) payload.  The fix is the pack-block
# shape *inside* the bucket: a light signature-only pass counts rows per
# group, groups over ``max_bucket_rows`` are salt-split into ceil(n/cap)
# sub-buckets, and each (member-sub × query-sub) cross product becomes
# its own task.  Every (query, member) pair lands in exactly one
# sub-group, so union-of-partials (then the usual dedup + window reduce)
# is unchanged; per-task memory is ~2·cap vectors regardless of how
# pathological the data is.  The quadratic WORK inside a duplicate
# mega-cluster is inherent to exact in-bucket scoring — only the memory
# was the scale bug.

_ROLE_MEMBER, _ROLE_QUERY, _ROLE_BOTH = 0, 1, 2


def _salt(ids: np.ndarray, splits: np.ndarray) -> np.ndarray:
    """Deterministic sub-bucket for each id (splitmix-style mix)."""
    h = ids.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    h ^= h >> np.uint64(29)
    return (h % splits.astype(np.uint64)).astype(np.int32)


def _copy_plan(splits: np.ndarray):
    """(row_index_per_copy, sub_index_per_copy) for rows needing
    ``splits[i]`` copies each — fully vectorized."""
    idx = np.repeat(np.arange(len(splits)), splits)
    starts = np.cumsum(splits) - splits
    sub = (np.arange(splits.sum()) - np.repeat(starts, splits)) \
        .astype(np.int32)
    return idx, sub


def _emit_salted(base: pd.DataFrame, splits: np.ndarray,
                 ids: np.ndarray, roles: np.ndarray | None):
    """Explode one signature chunk into salted sub-group rows.

    base carries (table?, bucket, id, vec); splits[i] == 1 rows pass
    through with (m_sub, q_sub) = (0, 0) keeping their role (or BOTH when
    roles is None — the LSH case where every row is query and member).
    splits[i] > 1 rows become ``splits`` member copies (fixed m_sub =
    salt, every q_sub) plus ``splits`` query copies (every m_sub, fixed
    q_sub = salt): each (query, member) pair meets in exactly one
    sub-group.
    """
    out = []
    one = splits == 1
    if one.any():
        flat = base.iloc[np.nonzero(one)[0]].copy()
        flat["m_sub"] = np.int32(0)
        flat["q_sub"] = np.int32(0)
        flat["role"] = (np.full(len(flat), _ROLE_BOTH, dtype=np.int32)
                        if roles is None else roles[one].astype(np.int32))
        out.append(flat)
    multi = np.nonzero(~one)[0]
    if len(multi):
        s = splits[multi]
        salt = _salt(ids[multi], s)
        rep, sub = _copy_plan(s)
        rows = base.iloc[multi]
        # roles None (LSH): every row is member AND query; otherwise the
        # input roles decide which copy family a row joins
        mem_mask = (np.ones(len(multi), bool) if roles is None
                    else roles[multi] == _ROLE_MEMBER)
        qry_mask = (np.ones(len(multi), bool) if roles is None
                    else roles[multi] == _ROLE_QUERY)
        for mask, m_fixed in ((mem_mask, True), (qry_mask, False)):
            pos = np.nonzero(mask)[0]
            if not len(pos):
                continue
            keep = np.isin(rep, pos)
            r, j = rep[keep], sub[keep]
            c = rows.iloc[r].copy()
            c["m_sub"] = salt[r] if m_fixed else j
            c["q_sub"] = j if m_fixed else salt[r]
            c["role"] = np.full(len(c), _ROLE_MEMBER if m_fixed
                                else _ROLE_QUERY, dtype=np.int32)
            out.append(c)
    return out


def _group_sides(pdf: pd.DataFrame, cap: int | None):
    """(members, queries) of one scored group + a loud memory guard —
    the guard is what turns a silent executor OOM at 10⁹ vectors into an
    actionable error naming the knob."""
    role = pdf["role"].to_numpy()
    if (role == _ROLE_BOTH).any():
        members = queries = pdf
    else:
        members = pdf[role == _ROLE_MEMBER]
        queries = pdf[role == _ROLE_QUERY]
    if cap is not None and max(len(members), len(queries)) > 4 * cap + 64:
        raise RuntimeError(
            f"similarity-search sub-group holds {max(len(members), len(queries))} "
            f"rows against max_bucket_rows={cap} — salted splitting failed "
            "to bound this group; lower max_bucket_rows or check for "
            "adversarial id collisions.")
    return members, queries


def _lsh_bucketed(embeddings: DataFrame, n_planes, n_tables, seed,
                  id_col, vec_col, target_bucket_rows,
                  max_bucket_rows=None):
    """Shared front half: (table, bucket, m_sub, q_sub, role, id, vec)
    rows, one Arrow payload pass.

    The signature is computed in the SAME pass that carries the payload —
    no second join against the vector table (round 1 re-shuffled the full
    table to re-attach vectors to signatures).  With ``max_bucket_rows``
    set, a signature-only pre-pass (no vector shuffle — the count agg is
    map-side combinable) finds oversized buckets; the split map is
    driver-sized (≤ N/cap entries) and broadcast into the payload pass.
    """
    spark = embeddings.sparkSession
    n_rows = None
    if n_planes is None:
        n_rows = embeddings.count()
        n_planes = _auto_planes(n_rows, target_bucket_rows)
    if max_bucket_rows is not None:
        if n_rows is None:
            # a count() is far cheaper than the signature pre-pass it may
            # let us skip — take it for explicit-n_planes callers too
            n_rows = embeddings.count()
        if n_rows <= max_bucket_rows:
            # no bucket can exceed the cap when the whole table fits in
            # it — skip the counting pre-pass (and its extra scan)
            max_bucket_rows = None
    first = embeddings.select(vec_col).first()
    dim = len(first[vec_col])
    planes = _lsh_planes(seed, n_tables, n_planes, dim)
    planes_bc = spark.sparkContext.broadcast(planes)

    src = embeddings.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"))

    def signatures(pdf: pd.DataFrame):
        pls = planes_bc.value
        weights = 1 << np.arange(pls.shape[1])
        vecs = np.array(list(pdf["vec"]), dtype=np.float64)
        for t in range(pls.shape[0]):
            bits = (vecs @ pls[t].T) > 0
            yield t, bits.dot(weights).astype(np.int64)

    big: dict = {}
    if max_bucket_rows is not None:
        count_schema = StructType([StructField("table", IntegerType()),
                                   StructField("bucket", LongType())])

        def sig_only(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                for t, buckets in signatures(pdf):
                    yield pd.DataFrame({
                        "table": np.full(len(pdf), t, dtype=np.int32),
                        "bucket": buckets})

        oversized = (src.mapInPandas(sig_only, count_schema)
                     .groupBy("table", "bucket")
                     .agg(F.count("*").alias("n"))
                     .where(F.col("n") > max_bucket_rows)
                     .collect())
        big = {(r["table"], r["bucket"]):
               -(-r["n"] // max_bucket_rows) for r in oversized}
    big_bc = spark.sparkContext.broadcast(big)

    sig_schema = StructType([
        StructField("table", IntegerType()),
        StructField("bucket", LongType()),
        StructField("m_sub", IntegerType()),
        StructField("q_sub", IntegerType()),
        StructField("role", IntegerType()),
        StructField("id", LongType()),
        StructField("vec", src.schema["vec"].dataType),
    ])

    def signature(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        split_map = big_bc.value
        for pdf in it:
            ids = pdf["id"].to_numpy(dtype=np.int64)
            for t, buckets in signatures(pdf):
                base = pd.DataFrame({
                    "table": np.full(len(pdf), t, dtype=np.int32),
                    "bucket": buckets, "id": ids, "vec": pdf["vec"]})
                if split_map:
                    splits = np.array(
                        [split_map.get((t, b), 1) for b in buckets],
                        dtype=np.int64)
                else:
                    splits = np.ones(len(pdf), dtype=np.int64)
                for frame in _emit_salted(base, splits, ids, None):
                    yield frame[["table", "bucket", "m_sub", "q_sub",
                                 "role", "id", "vec"]]

    return src.mapInPandas(signature, sig_schema)


def lsh_bucketed_top_k(embeddings: DataFrame, k: int = 1,
                       n_planes: int | None = None, n_tables: int = 2,
                       seed: int = 42, round_decimals: int = 4,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       target_bucket_rows: int = 4096,
                       chunk_rows: int = 1024,
                       max_bucket_rows: int | None = 65536) -> DataFrame:
    """Approximate top-k: multi-table random-hyperplane LSH → chunked exact
    search per (table, bucket) → global window reduce.

    n_planes=None derives the bucket count from N (expected bucket ≈
    target_bucket_rows); n_tables > 1 is the banding that buys recall back.
    Within a bucket the scoring runs in ``chunk_rows`` query slices — the
    task never holds an O(bucket²) similarity matrix — and buckets over
    ``max_bucket_rows`` (duplicate mega-clusters) are salt-split into
    sub-bucket cross products so no task materializes an unbounded
    payload either (None disables the pre-pass).
    """
    tagged = _lsh_bucketed(embeddings, n_planes, n_tables, seed,
                           id_col, vec_col, target_bucket_rows,
                           max_bucket_rows)

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        members, queries = _group_sides(pdf, max_bucket_rows)
        if members.empty or queries.empty:
            return pd.DataFrame({"a_id": [], "b_id": [], "cos_sim": []})
        m_ids = members["id"].to_numpy(dtype=np.int64)
        order = np.argsort(m_ids, kind="stable")
        m_ids = m_ids[order]
        m_unit = _unit(np.array(list(members["vec"].iloc[order]),
                                dtype=np.float64))
        if queries is members:
            q_ids, q_unit = m_ids, m_unit
        else:
            q_ids = queries["id"].to_numpy(dtype=np.int64)
            q_unit = _unit(np.array(list(queries["vec"]), dtype=np.float64))
        frames = [pd.DataFrame(cols) for cols in _topk_partials(
            q_ids, q_unit, m_ids, m_unit, k, round_decimals, chunk_rows)]
        if not frames:
            return pd.DataFrame({"a_id": [], "b_id": [], "cos_sim": []})
        return pd.concat(frames, ignore_index=True)

    partials = (tagged.groupBy("table", "bucket", "m_sub", "q_sub")
                .applyInPandas(per_bucket, PARTIAL_SCHEMA)
                # the same pair can surface from several tables (and, for
                # a split bucket, several sub-groups never repeat a pair —
                # but tables do) with the identical rounded cosine —
                # dedupe before the reduce
                .dropDuplicates(["a_id", "b_id"]))
    return _global_top_k(partials, k)


def ivf_top_k(embeddings: DataFrame, k: int = 1,
              n_centroids: int | None = None, n_probe: int = 2,
              seed: int = 42, round_decimals: int = 4,
              id_col: str = "vec_id", vec_col: str = "embedding",
              chunk_rows: int = 1024, max_iter: int = 10,
              quantizer: str = "kmeans",
              max_bucket_rows: int | None = 65536) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer:
    k-means centroids partition the space, every vector lives in its
    nearest centroid's posting list, and each query probes its ``n_probe``
    nearest centroids — exact scoring only inside the probed lists.

    Distributed shape: the quantizer is Spark ML KMeans (k-means||); the
    centroid matrix is MODEL-sized (n_centroids × d) and broadcast, so
    assignment is one Arrow matmul pass emitting member + probe rows,
    scoring runs per centroid in ``chunk_rows`` slices, and partial
    top-ks reduce globally — the same window reduce as the exact path.
    n_centroids defaults to √N (the classic IVF sizing), so posting
    lists stay ~√N and total probed work is O(N·√N / lists) per query
    batch instead of O(N²).

    quantizer: "kmeans" (default) trains k-means|| — best posting-list
    balance, but its internal RNG is engine-specific.  "sample" takes the
    ``n_centroids`` lowest-id vectors as centroids — a cruder quantizer
    (affects recall only, never pair soundness: scoring inside probed
    lists is exact either way) whose assignment an external SQL oracle
    can replay exactly, which is how the driver's ann_ivf contract row is
    hash-verified end to end.

    Posting lists over ``max_bucket_rows`` (hot lists under duplicate-
    heavy data) are salt-split into sub-list cross products — same memory
    bound as the LSH path; None disables the counting pre-pass.
    """
    n = embeddings.count()
    if n_centroids is None:
        n_centroids = max(1, min(int(math.sqrt(n)), n))
    n_probe = min(n_probe, n_centroids)
    if max_bucket_rows is not None and n * (1 + n_probe) <= max_bucket_rows:
        # even the degenerate one-list case fits under the cap — skip the
        # counting pre-pass and its extra assignment scan
        max_bucket_rows = None

    src = embeddings.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"))
    if quantizer == "sample":
        # model-sized driver fetch (√N rows) — same footprint as the
        # k-means centroid matrix that gets broadcast either way
        rows = src.orderBy("id").limit(n_centroids).collect()
        centers = np.array([r["vec"] for r in rows], dtype=np.float64)
    elif quantizer == "kmeans":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feat = src.withColumn("_f", array_to_vector("vec"))
        model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter,
                       featuresCol="_f", predictionCol="_c").fit(feat)
        centers = np.array(model.clusterCenters(), dtype=np.float64)
    else:
        raise ValueError(f"unknown quantizer {quantizer!r}")
    cnorm = np.linalg.norm(centers, axis=1)
    cnorm[cnorm == 0] = 1.0
    centers_bc = src.sparkSession.sparkContext.broadcast(
        centers / cnorm[:, None])

    def assignments(pdf: pd.DataFrame):
        """(all-roles bucket array, role array, copy plan) per chunk."""
        cu = centers_bc.value
        unit = _unit(np.array(list(pdf["vec"]), dtype=np.float64))
        sims = unit @ cu.T
        order = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
        n = len(pdf)
        buckets = np.concatenate(
            [order[:, 0]] + [order[:, j] for j in range(n_probe)]) \
            .astype(np.int32)
        roles = np.concatenate(
            [np.zeros(n, dtype=np.int32),
             np.ones(n * n_probe, dtype=np.int32)])
        return buckets, roles

    big: dict = {}
    if max_bucket_rows is not None:
        count_schema = StructType([StructField("bucket", IntegerType())])

        def assign_count(it: Iterator[pd.DataFrame]) \
                -> Iterator[pd.DataFrame]:
            for pdf in it:
                buckets, _ = assignments(pdf)
                yield pd.DataFrame({"bucket": buckets})

        oversized = (src.mapInPandas(assign_count, count_schema)
                     .groupBy("bucket").agg(F.count("*").alias("n"))
                     .where(F.col("n") > max_bucket_rows)
                     .collect())
        big = {r["bucket"]: -(-r["n"] // max_bucket_rows)
               for r in oversized}
    big_bc = src.sparkSession.sparkContext.broadcast(big)

    tagged_schema = StructType([
        StructField("bucket", IntegerType()),
        StructField("m_sub", IntegerType()),
        StructField("q_sub", IntegerType()),
        StructField("role", IntegerType()),  # 0 = member, 1 = probing query
        StructField("id", LongType()),
        StructField("vec", src.schema["vec"].dataType),
    ])

    def assign(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        split_map = big_bc.value
        for pdf in it:
            buckets, roles = assignments(pdf)
            n_copies = 1 + n_probe
            ids = np.tile(pdf["id"].to_numpy(dtype=np.int64), n_copies)
            base = pd.DataFrame({
                "bucket": buckets, "id": ids,
                "vec": pd.concat([pdf["vec"]] * n_copies,
                                 ignore_index=True)})
            if split_map:
                splits = np.array([split_map.get(b, 1) for b in buckets],
                                  dtype=np.int64)
            else:
                splits = np.ones(len(base), dtype=np.int64)
            for frame in _emit_salted(base, splits, ids, roles):
                yield frame[["bucket", "m_sub", "q_sub", "role",
                             "id", "vec"]]

    tagged = src.mapInPandas(assign, tagged_schema)

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        members, queries = _group_sides(pdf, max_bucket_rows)
        if members.empty or queries.empty:
            return pd.DataFrame({"a_id": [], "b_id": [], "cos_sim": []})
        m_ids = members["id"].to_numpy(dtype=np.int64)
        order = np.argsort(m_ids, kind="stable")
        m_ids = m_ids[order]
        m_unit = _unit(np.array(list(members["vec"].iloc[order]),
                                dtype=np.float64))
        q_ids = queries["id"].to_numpy(dtype=np.int64)
        q_unit = _unit(np.array(list(queries["vec"]), dtype=np.float64))
        frames = [pd.DataFrame(cols) for cols in _topk_partials(
            q_ids, q_unit, m_ids, m_unit, k, round_decimals, chunk_rows)]
        if not frames:
            return pd.DataFrame({"a_id": [], "b_id": [], "cos_sim": []})
        return pd.concat(frames, ignore_index=True)

    partials = (tagged.groupBy("bucket", "m_sub", "q_sub")
                .applyInPandas(per_bucket, PARTIAL_SCHEMA)
                # a pair found via several probed buckets has the same
                # rounded cosine — dedupe before the reduce
                .dropDuplicates(["a_id", "b_id"]))
    return _global_top_k(partials, k)


def lsh_bucketed_pairs(embeddings: DataFrame, threshold: float = 0.95,
                       n_planes: int | None = None, n_tables: int = 2,
                       seed: int = 42, round_decimals: int = 4,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       target_bucket_rows: int = 4096,
                       chunk_rows: int = 1024,
                       max_bucket_rows: int | None = 65536) -> DataFrame:
    """Approximate thresholded near-dup pairs via the same LSH buckets.

    The a_id < b_id filter makes the salt-split exact here too: an
    unordered pair meets once as (query=a, member=b) and once mirrored
    across sub-groups, and only the ascending orientation is emitted.
    """
    tagged = _lsh_bucketed(embeddings, n_planes, n_tables, seed,
                           id_col, vec_col, target_bucket_rows,
                           max_bucket_rows)

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        members, queries = _group_sides(pdf, max_bucket_rows)
        if members.empty or queries.empty:
            return pd.DataFrame({"a_id": [], "b_id": [], "cos_sim": []})
        m_ids = members["id"].to_numpy(dtype=np.int64)
        order = np.argsort(m_ids, kind="stable")
        m_ids = m_ids[order]
        m_unit = _unit(np.array(list(members["vec"].iloc[order]),
                                dtype=np.float64))
        if queries is members:
            q_ids, q_unit = m_ids, m_unit
        else:
            q_ids = queries["id"].to_numpy(dtype=np.int64)
            q_unit = _unit(np.array(list(queries["vec"]), dtype=np.float64))
        frames = []
        for lo in range(0, len(q_ids), chunk_rows):
            hi = min(lo + chunk_rows, len(q_ids))
            sims = np.round(q_unit[lo:hi] @ m_unit.T, round_decimals)
            keep = (sims >= threshold) & (q_ids[lo:hi, None] < m_ids[None, :])
            qi, cj = np.nonzero(keep)
            frames.append(pd.DataFrame({
                "a_id": q_ids[lo:hi][qi], "b_id": m_ids[cj],
                "cos_sim": sims[qi, cj].astype(np.float64)}))
        if not frames:
            return pd.DataFrame({"a_id": [], "b_id": [], "cos_sim": []})
        return pd.concat(frames, ignore_index=True)

    return (tagged.groupBy("table", "bucket", "m_sub", "q_sub")
            .applyInPandas(per_bucket, PAIRS_SCHEMA)
            .dropDuplicates(["a_id", "b_id"]))
