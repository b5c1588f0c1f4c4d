"""Single-threaded sample of the per-turn extraction kernel.

Pushes a sample of a workload's turns through the same public per-turn
functions the fused Arrow stage calls (``relations.extract_canonical_triples``
runs exactly this sequence per turn) and times each phase separately:

    taggers   textproc.taggers.tag_urls + tag_dates + tag_smileys
    ner       ner.tag.get_annotations
    patterns  relations.triples_from_mentions
    link      the linker built by linking.make_surface_linker

This is also the single-threaded baseline: ``kernel.turns_per_s_1core``
is what one core does with no Spark, Arrow or pandas around the kernel.
The counts (mentions and triples per turn) depend only on the sample and
repeat exactly for a seed.
"""

from __future__ import annotations

import time

from palladian_spark.linking import make_surface_linker
from palladian_spark.ner.tag import get_annotations
from palladian_spark.relations import (
    DEFAULT_PATTERNS, compile_patterns, triples_from_mentions,
)
from palladian_spark.textproc.taggers import tag_dates, tag_smileys, tag_urls


def _one_pass(texts, model, norm_map, entries, metric, threshold):
    patterns = list(DEFAULT_PATTERNS)
    compiled = compile_patterns(patterns)
    link = make_surface_linker(norm_map, entries, metric, threshold)
    classify_cache: dict = {}
    window_cache: dict = {}
    t_tag = t_ner = t_pat = t_link = 0.0
    n_mentions = n_triples = 0
    clock = time.perf_counter
    for text in texts:
        t0 = clock()
        urls, dates, smileys = tag_urls(text), tag_dates(text), tag_smileys(text)
        t1 = clock()
        mentions = get_annotations(text, model, classify_cache=classify_cache,
                                   url_annotations=urls,
                                   date_annotations=dates)
        t2 = clock()
        rows = triples_from_mentions(text, mentions, patterns,
                                     masks=urls + dates + smileys,
                                     compiled=compiled,
                                     match_cache=window_cache)
        t3 = clock()
        for row in rows:
            link(row[0])
            link(row[2])
        t4 = clock()
        t_tag += t1 - t0
        t_ner += t2 - t1
        t_pat += t3 - t2
        t_link += t4 - t3
        n_mentions += len(mentions)
        n_triples += len(rows)
    return t_tag, t_ner, t_pat, t_link, n_mentions, n_triples


def kernel_metrics(texts: list[str], model, norm_map: dict, entries: list,
                   metric: str = "jaro_winkler",
                   threshold: float = 0.9) -> dict[str, float]:
    """One untimed pass (imports, regex compilation), then a timed pass
    with fresh caches, as each Spark task starts with fresh caches."""
    texts = [t for t in texts if t is not None]
    _one_pass(texts, model, norm_map, entries, metric, threshold)
    t_tag, t_ner, t_pat, t_link, n_m, n_t = _one_pass(
        texts, model, norm_map, entries, metric, threshold)
    n = max(len(texts), 1)
    total = t_tag + t_ner + t_pat + t_link
    return {
        "kernel.taggers_us_per_turn": t_tag / n * 1e6,
        "kernel.ner_us_per_turn": t_ner / n * 1e6,
        "kernel.patterns_us_per_turn": t_pat / n * 1e6,
        "kernel.link_us_per_triple": t_link / max(n_t, 1) * 1e6,
        "kernel.turns_per_s_1core": n / total if total > 0 else 0.0,
        "kernel.mentions_per_turn": n_m / n,
        "kernel.triples_per_turn": n_t / n,
    }
