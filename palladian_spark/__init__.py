"""palladian_spark — a PySpark-native knowledge-graph construction engine.

Re-implements the information-extraction core of Palladian
(``bjoern-hempel/palladian``, read-only reference at /root/reference) as an
idiomatic Spark DataFrame pipeline:

    transcripts (conv_id, turn_idx, role, text, tool, ts)
        → sentence split → mention detection (StringTagger port)
        → rule chain (unwrap / date-fragment / case fixes)
        → dictionary classification (char-5-gram text classifier)
        → entity linking (broadcast dictionary + similarity pruning)
        → relation extraction (same-sentence pattern windows)
        → (subj, pred, obj) triples with lineage

Design principles (see SURVEY.md §4):
  * all text operators are vectorized pandas/Arrow UDFs — no per-row Python;
  * dictionaries/models are broadcast; only training aggs and the final
    canonicalization shuffle;
  * relational shapes (de-nesting, adjacency merge, dictionary switch) also
    exist as pure DataFrame operators (window functions / broadcast joins)
    so Catalyst/AQE can optimize them at cluster scale.
"""

__version__ = "0.1.0"

from palladian_spark import zipcache as _zipcache

_zipcache.install()
