"""Entity linking & canonicalization.

The join shape follows the reference's location-extractor lookup
(PalladianLocationExtractor.java:85-103 + LocationExtractorUtils.normalizeName):
normalize the mention value, batch-lookup canonical records by lowercase
name, fan out candidates, prune by similarity, keep the top candidate
(HeuristicDisambiguation.java:42-120 ranking shape — our score is a string
similarity, not geo heuristics).

Scale design:
  * the canonical dictionary is small → **broadcast hash join** on the
    normalized key (exact hits never touch Python);
  * fuzzy fallback runs only over DISTINCT unmatched surface forms
    (typically ≪ mention count) in one Arrow-batched pandas UDF against the
    broadcast dictionary, then joins back — similarity work is O(distinct
    misses × dictionary), never O(mentions × dictionary);
  * per-mention top-1 = argmax inside the UDF (no extra shuffle).
"""

from __future__ import annotations

import string as _string
import uuid
from typing import Iterator, List, Optional, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    DoubleType, StringType, StructField, StructType,
)

from palladian_spark.textproc.similarity import METRICS


def normalize_surface(col):
    """lowercase + trim + collapse internal whitespace."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


# Python twin of normalize_surface for the fused in-kernel linker: Java's
# \s is exactly [ \t\n\x0B\f\r] (no UNICODE_CHARACTER_CLASS), Spark trim
# strips ASCII spaces — both mirrored here (equivalence-tested in
# tests/test_fused_canonicalize.py).
import re as _re

_JAVA_WS = _re.compile(r"[ \t\n\x0b\f\r]+")


def normalize_surface_py(value: str) -> str:
    return _JAVA_WS.sub(" ", value).strip(" ").lower()


_LINK_MISS = object()


def make_surface_linker(norm_map, entries, metric: str, threshold: float,
                        min_link_sim: Optional[float] = None,
                        index_key: Optional[str] = None):
    """Per-worker memoized ``link(value) -> canonical-or-None`` with the
    EXACT semantics of the staged mapping (canonicalize_triples): exact
    hit on the normalized key (link_sim 1.0) first, else the blocked
    fuzzy argmax over ``entries`` in dictionary order (ties → last
    maximal entry, same as fuzzy_link_df), then the ``min_link_sim``
    bar.  ``norm_map`` is {normalized key: min(surface)} and must be
    computed by the SAME normalization as the staged path (the callers
    build it with the Spark normalize_surface column so dictionary-side
    normalization is literally shared).  With ``index_key`` the fuzzy
    index comes from the per-worker cache (_worker_index), so every task
    of one prepared plan on a worker shares one index; without it the
    index is built here."""
    sim_fn = METRICS[metric] if entries else None
    frac = _bound_frac(metric, threshold) if entries else None
    index = None
    if entries and frac is not None:
        index = (_worker_index(index_key, entries, metric)
                 if index_key is not None else _BlockedDict(entries, metric))
    memo: dict = {}

    def link(value: str):
        hit = memo.get(value, _LINK_MISS)
        if hit is not _LINK_MISS:
            return hit
        canon, sim = norm_map.get(normalize_surface_py(value)), 1.0
        if canon is None and entries:
            best, best_sim = _fuzzy_argmax(value, entries, index, frac,
                                           sim_fn, threshold)
            if best is not None:
                canon, sim = best[1], best_sim
        if canon is not None and min_link_sim is not None \
                and sim < min_link_sim:
            canon = None
        if len(memo) < 500_000:
            memo[value] = canon
        return canon

    return link


def _fuzzy_argmax(value: str, entries: List[Tuple[str, str, str]],
                  index: Optional[_BlockedDict], frac: Optional[float],
                  sim_fn, threshold: float):
    """(entry, sim) of the best (entity_id, surface, concept) entry for
    ``value`` with sim ≥ ``threshold``, or (None, threshold).  Candidates
    (the ``index`` survivors, or every entry without one) are scored in
    dictionary order and a tie goes to the LAST maximal entry."""
    cand = ((entries[i] for i in index.candidates(value, frac))
            if index is not None else entries)
    best, best_sim = None, threshold
    for entry in cand:
        s = sim_fn(value, entry[1])
        if s >= best_sim:
            best, best_sim = entry, s
    return best, best_sim


# ---------------------------------------------------------------------------
# blocked candidate generation for the fuzzy pass
#
# The round-1 inner loop was O(distinct-misses × dictionary) pure-Python
# similarity calls — fine at the survey's ≤60k-entry dictionaries, a melt at
# web-scale alias tables.  The blocking below prunes the dictionary per query
# with NECESSARY conditions for sim ≥ threshold, so the surviving set is a
# superset of every linkable candidate and the argmax / tie semantics of the
# full loop are preserved exactly (ties still resolve to the LAST dictionary
# entry achieving the max, because survivors are scored in dictionary order).
#
# Bounds (len1 ≤ len2, inter = char-multiset intersection):
#   * jaro_winkler:  jw ≤ 0.6·jaro + 0.4 (prefix bonus l≤4, p=0.1), and
#     jaro ≤ (m/len2 + 2)/3 with m ≤ min(len1, inter)
#       ⇒ len1 ≥ (3j−2)·len2 and inter ≥ (3j−2)·len2, j = (t−0.4)/0.6
#     (computed on trim+uppercase, matching the metric's normalization)
#   * levenshtein:   d ≥ len2 − len1 and d ≥ len2 − inter, sim = 1 − d/len2
#       ⇒ len1 ≥ t·len2 and inter ≥ t·len2
# Other metrics: no sound bound known here → full loop (same as round 1).
# ---------------------------------------------------------------------------

_ALPHABET = {c: i + 1 for i, c in
             enumerate(_string.ascii_uppercase + _string.ascii_lowercase
                       + _string.digits + " ")}
_N_BUCKETS = len(_ALPHABET) + 1  # bucket 0 = any other char (inflates the
                                 # intersection, which only ADDS survivors)


def _bound_frac(metric: str, threshold: float) -> Optional[float]:
    """Fraction of the LONGER string that both the shorter length and the
    char-multiset intersection must reach for sim ≥ threshold, or None if
    no sound bound exists for this metric/threshold."""
    if metric == "jaro_winkler":
        frac = 3.0 * (threshold - 0.4) / 0.6 - 2.0
        return frac if frac > 0 else None
    if metric == "levenshtein":
        return threshold if threshold > 0 else None
    return None


def _char_count_matrix(values: List[str]) -> np.ndarray:
    mat = np.zeros((len(values), _N_BUCKETS), dtype=np.int32)
    get = _ALPHABET.get
    for i, s in enumerate(values):
        row = mat[i]
        for ch in s:
            row[get(ch, 0)] += 1
    return mat


class _BlockedDict:
    """Per-worker index over the broadcast dictionary: entries sorted by
    normalized length, with a char-count matrix for the overlap bound."""

    def __init__(self, entries: List[Tuple[str, str, str]], metric: str):
        self.entries = entries
        norm = ((lambda s: s.strip().upper())
                if metric == "jaro_winkler" else (lambda s: s))
        self.norm = norm
        forms = [norm(surface) for _, surface, _ in entries]
        lens = np.array([len(f) for f in forms], dtype=np.int64)
        self.order = np.argsort(lens, kind="stable")
        self.lens = lens[self.order]
        self.counts = _char_count_matrix(forms)[self.order]
        self.qcount_buf = np.zeros(_N_BUCKETS, dtype=np.int32)

    def candidates(self, value: str, frac: float) -> np.ndarray:
        """Original-order indices of entries passing both bounds."""
        form = self.norm(value)
        lq = len(form)
        if lq == 0:
            return np.sort(self.order)  # degenerate — fall back to all
        lo = int(np.searchsorted(self.lens, int(np.ceil(frac * lq)), "left"))
        hi = int(np.searchsorted(self.lens, int(np.floor(lq / frac)), "right"))
        if lo >= hi:
            return np.empty(0, dtype=np.int64)
        band_lens = self.lens[lo:hi]
        q = self.qcount_buf
        q[:] = 0
        get = _ALPHABET.get
        for ch in form:
            q[get(ch, 0)] += 1
        inter = np.minimum(self.counts[lo:hi], q[None, :]).sum(axis=1)
        need = frac * np.maximum(band_lens, lq)
        keep = inter >= need
        # back to ORIGINAL dictionary order so tie-breaking is unchanged
        return np.sort(self.order[lo:hi][keep])


# plan key -> _BlockedDict, one per Python worker process.  Reach it ONLY
# through the top-level _worker_index: cloudpickle ships a nested function
# (a mapInPandas closure) by value together with a fresh copy of the module
# globals it names, so a closure that read this dict directly would see an
# empty copy in every task.  A top-level function is shipped by reference
# and resolves the worker's real module dict.
_INDEX_CACHE: dict = {}


def _worker_index(key: str, entries: List[Tuple[str, str, str]],
                  metric: str) -> _BlockedDict:
    """The worker's _BlockedDict for plan ``key``, built on first use."""
    index = _INDEX_CACHE.get(key)
    if index is None:
        index = _BlockedDict(entries, metric)
        if len(_INDEX_CACHE) > 8:
            # evict ONE oldest entry — clearing everything would force
            # still-running plans to rebuild per task
            _INDEX_CACHE.pop(next(iter(_INDEX_CACHE)))
        _INDEX_CACHE[key] = index
    return index


_FUZZY_SCHEMA = StructType([
    StructField("value", StringType()),
    StructField("entity_id", StringType()),
    StructField("canonical", StringType()),
    StructField("concept", StringType()),
    StructField("link_sim", DoubleType()),
])


def fuzzy_link_df(values: DataFrame, entity_dict: DataFrame,
                  metric: str = "jaro_winkler",
                  threshold: float = 0.9) -> DataFrame:
    """Similarity-link a DataFrame of distinct surface ``value``s against
    the broadcast dictionary: one Arrow-batched pass, per-value argmax.

    For jaro_winkler / levenshtein the dictionary is pruned per query with
    sound length + char-overlap bounds (see _bound_frac) before the
    expensive similarity calls — same results as the full loop, typically
    5-50× fewer sim_fn invocations; other metrics take the full loop."""
    spark = values.sparkSession
    dict_rows: List[Tuple[str, str, str]] = [
        (r["entity_id"], r["surface"], r["concept"])
        for r in entity_dict.select("entity_id", "surface", "concept").collect()
    ]
    dict_bc = spark.sparkContext.broadcast(dict_rows)
    sim_fn = METRICS[metric]
    frac = _bound_frac(metric, threshold)
    plan_id = uuid.uuid4().hex  # per-worker index cache key for THIS plan

    def fuzzy_match(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        entries = dict_bc.value
        index = (_worker_index(plan_id, entries, metric)
                 if frac is not None else None)
        for pdf in iterator:
            out = {k: [] for k in
                   ("value", "entity_id", "canonical", "concept", "link_sim")}
            for value in pdf["value"]:
                best, best_sim = _fuzzy_argmax(value, entries, index, frac,
                                               sim_fn, threshold)
                if best is not None:
                    out["value"].append(value)
                    out["entity_id"].append(best[0])
                    out["canonical"].append(best[1])
                    out["concept"].append(best[2])
                    out["link_sim"].append(best_sim)
            yield pd.DataFrame(out)

    return values.select("value").mapInPandas(fuzzy_match, _FUZZY_SCHEMA)


def link_mentions(mentions: DataFrame, entity_dict: DataFrame,
                  metric: str = "jaro_winkler",
                  threshold: float = 0.9,
                  fuzzy: bool = True) -> DataFrame:
    """Attach (entity_id, canonical, concept, link_sim) to each mention.

    ``entity_dict`` columns: (entity_id, surface, concept); surfaces are
    assumed canonical (aliases may appear as extra rows with the same
    entity_id).  Exact matches link with sim 1.0 JVM-side; remaining
    DISTINCT values go through the similarity metric with ``threshold``
    pruning.  Unlinked mentions keep null entity_id.
    """
    dict_norm = (entity_dict
                 .withColumn("_key", normalize_surface(F.col("surface")))
                 .select("_key",
                         F.col("entity_id").alias("_entity_id"),
                         F.col("surface").alias("_canonical"),
                         F.col("concept").alias("_concept")))

    with_key = mentions.withColumn("_key", normalize_surface(F.col("value")))
    exact = (with_key
             .join(F.broadcast(dict_norm), "_key", "left")
             .withColumn("link_sim",
                         F.when(F.col("_entity_id").isNotNull(), F.lit(1.0))))

    if not fuzzy:
        return (exact
                .withColumnRenamed("_entity_id", "entity_id")
                .withColumnRenamed("_canonical", "canonical")
                .withColumnRenamed("_concept", "concept")
                .drop("_key"))

    # fuzzy pass over distinct unmatched surface forms only
    misses = (exact.where(F.col("_entity_id").isNull())
              .select("value").distinct())
    fuzzy_links = fuzzy_link_df(misses, entity_dict, metric, threshold)

    resolved = (exact
                .join(F.broadcast(fuzzy_links
                                  .withColumnRenamed("entity_id", "_f_entity_id")
                                  .withColumnRenamed("canonical", "_f_canonical")
                                  .withColumnRenamed("concept", "_f_concept")
                                  .withColumnRenamed("link_sim", "_f_sim")),
                      "value", "left")
                .withColumn("entity_id", F.coalesce("_entity_id", "_f_entity_id"))
                .withColumn("canonical", F.coalesce("_canonical", "_f_canonical"))
                .withColumn("concept", F.coalesce("_concept", "_f_concept"))
                .withColumn("link_sim", F.coalesce("link_sim", "_f_sim"))
                .drop("_key", "_entity_id", "_canonical", "_concept",
                      "_f_entity_id", "_f_canonical", "_f_concept", "_f_sim"))
    return resolved
