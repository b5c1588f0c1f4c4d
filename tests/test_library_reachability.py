"""Every library definition is reached from a non-test root or from a
kept reference.

A static scan, no Spark: the nodes are the top-level ``def``/``class``
names under ``palladian_spark/``. The roots are every identifier in the
non-test entry points (``__spark_entry__.py``, ``bench.py``, ``jobs/``,
``tools/``, ``perfbench/`` without its tests) and in the package's
module-level code outside definitions and imports. A reached definition
reaches every definition whose name occurs, as a whole word, in its body.
Identifiers are read from the AST (names, attributes, imported names and
the words of string constants), so comments and docstrings keep nothing
alive.

Code that only tests call is either deleted or named in ``KEPT`` with the
test it serves; a kept definition keeps what it calls. The unreached
definitions that nothing else unreached calls must equal ``KEPT``
exactly: an entry that turns reachable, or whose code goes, fails too.
"""

from __future__ import annotations

import ast
import glob
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "palladian_spark"
ROOT_GLOBS = ("__spark_entry__.py", "bench.py", "jobs/*.py", "tools/*.py",
              "perfbench/*.py")

KEPT = {
    # references: ports of the reference's own code, or the plain form a
    # test checks a Spark operator against
    **{f"textproc.formats.{name}":
       "test_formats_gazetteer: FileFormatParser and NerHelper goldens"
       for name in ("annotations_from_column", "annotations_from_xml",
                    "column_to_xml", "get_tags_from_column", "get_text",
                    "tag_text", "xml_to_column")},
    **{f"textproc.tokenize.{name}": "test_tokenize: tokenizer goldens"
       for name in ("char_ngrams", "char_edge_ngrams", "get_sentences",
                    "iter_skip_grams")},
    "textproc.pos.chunk_phrases": "test_pos: reference for np_chunks_df",
    "textproc.pos.pos_tag_rules": "test_pos: reference for np_chunks_df",
    "textproc.pos.ClassifierPosTagger": "test_pos: PalladianPosTagger port",
    "textproc.dates.tag_datetimes": "test_dates: DateAndTimeTagger goldens",
    "textproc.preprocess_tagger.EntityPreprocessingTagger":
        "test_preprocess_tagger",
    "ner.train.equalize_type_counts": "test_formats_gazetteer",
    "ner.train.train_english": "test_ner_end_to_end, test_model_persistence",
    "ner.train.complete_retrain":
        "test_train_df_equivalence: reference for complete_retrain_df",
    "classification.dictionary.BayesScorer":
        "test_classifier: reference for classify_bayes_df",
    "operators.mentions.assert_text_equality": "test_spark_pipeline",
    "evaluation.evaluate_mentions_df": "test_spark_pipeline: MUC scoring",
    "evaluation.triple_prf": "test_spark_pipeline, test_scale_properties",
    "operators.embeddings.dequantize_embeddings":
        "test_embeddings_ops: round-trip bound of quantize_embeddings",
    "operators.embeddings.quantization_error":
        "test_embeddings_ops: round-trip bound of quantize_embeddings",
    "operators.similarity_search.brute_force_top_k":
        "test_events_patterns: exact side of the LSH recall test",
    "relations.canonicalize_triples":
        "test_fused_canonicalize: staged reference for the fused linker",
    "relations.extract_triples":
        "test_fused_canonicalize, test_streaming: unlinked extraction",
    "data.transcripts.synthetic_transcripts_pdf":
        "test_spark_pipeline, test_streaming: gold-annotated fixture",
    # entry points with tests but no job, tool or contract query
    "operators.sampling.deterministic_sample": "test_sampling",
    "operators.text_quality.language_id": "test_dataops",
    "streaming.incremental.run_incremental_pipeline": "test_streaming",
    "streaming.incremental.windowed_mention_counts": "test_streaming",
    "streaming.kg_maintain.reconciled_artifacts": "test_kg_maintain_stream",
}

_WORD = re.compile(r"[A-Za-z_]\w*")


def _docstring_nodes(tree: ast.AST) -> set:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)) and node.body:
            first = node.body[0]
            if (isinstance(first, ast.Expr)
                    and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                out.add(id(first.value))
    return out


def _words(nodes, docstrings: set) -> set:
    """Identifiers used in ``nodes``: names, attributes, imported names
    and the whole words of string constants other than docstrings."""
    words = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                words.add(node.id)
            elif isinstance(node, ast.Attribute):
                words.add(node.attr)
            elif isinstance(node, ast.alias):
                words.update(node.name.split("."))
            elif isinstance(node, ast.ImportFrom) and node.module:
                words.update(node.module.split("."))
            elif (isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and id(node) not in docstrings):
                words.update(_WORD.findall(node.value))
    return words


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), filename=path)


def scan() -> tuple:
    """(body words of every definition ``module.name``, root words)."""
    defs = {}
    roots = set()
    for path in sorted(glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"),
                                 recursive=True)):
        rel = os.path.relpath(path, os.path.join(ROOT, PACKAGE))
        module = rel[:-3].replace(os.sep, ".")
        tree = _parse(path)
        doc = _docstring_nodes(tree)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                defs[f"{module}.{node.name}"] = _words([node], doc)
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                roots |= _words([node], doc)
    for pattern in ROOT_GLOBS:
        for path in glob.glob(os.path.join(ROOT, pattern)):
            tree = _parse(path)
            roots |= _words([tree], _docstring_nodes(tree))
    return defs, roots


def reach(defs: dict, words: set, start=()) -> set:
    """Definitions reached from ``words`` and the definitions ``start``,
    following the words of each reached body."""
    by_name = {}
    for key in defs:
        by_name.setdefault(key.rsplit(".", 1)[1], []).append(key)
    reached = set()
    frontier = [k for w in words for k in by_name.get(w, ())] + list(start)
    while frontier:
        key = frontier.pop()
        if key not in reached:
            reached.add(key)
            frontier.extend(k for w in defs[key] for k in by_name.get(w, ()))
    return reached


def test_unreached_library_code_is_exactly_the_kept_references():
    defs, roots = scan()
    assert len(defs) > 100, "no definitions found under palladian_spark/"
    assert not set(KEPT) - set(defs), (
        f"KEPT names no definition: {sorted(set(KEPT) - set(defs))}")
    orphans = set(defs) - reach(defs, roots, KEPT)
    assert not orphans, (
        f"reached by no job, tool, benchmark, contract query or kept "
        f"reference (delete it, or keep it in KEPT with the test it "
        f"serves): {sorted(orphans)}")
    # each kept name is needed: reachable neither from a root nor from
    # another kept reference
    needless = {k for k in KEPT
                if k in reach(defs, roots, set(KEPT) - {k})}
    assert not needless, f"KEPT but reached without it: {sorted(needless)}"
