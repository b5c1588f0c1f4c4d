"""Streaming KG maintenance: incremental edge/evidence/degree stores must
equal the batch recompute over everything ingested, across drains and
replays."""

import pytest
from pyspark.sql import functions as F

from palladian_spark.streaming.kg_maintain import (
    _maintain_batch, current_components, current_degrees, fold_evidence,
    run_streaming_kg_maintenance)


@pytest.fixture()
def workdir(tmp_path):
    (tmp_path / "in").mkdir()
    (tmp_path / "out").mkdir()
    return tmp_path


def _write_batch(spark, in_dir, conv_prefix, n):
    from palladian_spark.data.transcripts import synthetic_transcripts_pdf
    tp, _ = synthetic_transcripts_pdf(n_convs=n, turns_per_conv=4)
    tp["conv_id"] = conv_prefix + "-" + tp["conv_id"]
    spark.createDataFrame(tp).coalesce(1).write.mode("append") \
        .parquet(str(in_dir))


def _setup(spark):
    from palladian_spark.data.transcripts import entity_dictionary_pdf
    from palladian_spark.pipeline import default_model
    entity_dict = spark.createDataFrame(
        entity_dictionary_pdf().assign(
            entity_id=lambda d: d["concept"].str.lower() + ":" + d["surface"]))
    return default_model(), entity_dict


def _degree_map(df):
    return {r["node"]: (r["out_degree"], r["in_degree"])
            for r in df.collect()}


def _comp_map(df):
    return {r["node"]: r["component"] for r in df.collect()}


def _comp_recompute(edges_df):
    """Oracle: full connected-components recompute over an edge set with
    subj/obj columns."""
    from palladian_spark.graph import connected_components
    return connected_components(
        edges_df.select(F.col("subj").alias("a_id"),
                        F.col("obj").alias("b_id")))


def test_maintain_batch_kernel(spark, tmp_path):
    out = str(tmp_path / "out")
    t1 = spark.createDataFrame(
        [("a", "p", "b"), ("a", "p", "b"), ("b", "p", "c")],
        ["subj", "pred", "obj"])
    row = _maintain_batch(spark, t1, 0, out)
    assert (row["n_triples"], row["n_new_edges"], row["n_nodes"]) == (3, 2, 3)
    # second batch: one repeated edge (evidence only), one novel edge
    t2 = spark.createDataFrame(
        [("a", "p", "b"), ("c", "p", "d")], ["subj", "pred", "obj"])
    row2 = _maintain_batch(spark, t2, 1, out)
    assert row2["n_new_edges"] == 1
    deg = _degree_map(current_degrees(spark, out))
    assert deg == {"a": (1, 0), "b": (1, 1), "c": (1, 1), "d": (0, 1)}
    ev = {(r["subj"], r["obj"]): r["n_obs"]
          for r in fold_evidence(spark, out).collect()}
    assert ev == {("a", "b"): 3, ("b", "c"): 1, ("c", "d"): 1}
    # component store: a-b-c are one component (min label "a"), c-d joined
    # it through c, so everything is one component
    comp = _comp_map(current_components(spark, out))
    assert comp == {n: "a" for n in "abcd"}


def _assert_lineage_matches_stores(spark, out):
    """Every lineage row counts what its batch wrote: n_triples = the
    evidence partition's sum(n_obs), n_new_edges = the edge partition's
    rows, n_nodes = the degree partition's rows."""
    def per_batch(store, agg):
        return {r["batch"]: r["v"] for r in spark.read.parquet(
            f"{out}/{store}").groupBy("batch").agg(agg.alias("v")).collect()}
    n_obs = per_batch("evidence_delta", F.sum("n_obs"))
    n_edges = per_batch("edges", F.count(F.lit(1)))
    n_nodes = per_batch("degrees", F.count(F.lit(1)))
    for r in spark.read.parquet(f"{out}/lineage").collect():
        b = r["batch_id"]
        assert (r["n_triples"], r["n_new_edges"], r["n_nodes"]) == \
            (n_obs.get(b, 0), n_edges.get(b, 0), n_nodes.get(b, 0))


def test_maintain_batch_empty_first_batch(spark, tmp_path):
    """Batch 0 has no triples: its partitions are committed but empty,
    and the next batch reads them as history, not as a missing store."""
    from palladian_spark.graph import kg_degrees
    out = str(tmp_path / "out")
    schema = "subj string, pred string, obj string"
    row0 = _maintain_batch(spark, spark.createDataFrame([], schema), 0, out)
    assert (row0["n_triples"], row0["n_new_edges"], row0["n_nodes"]) == \
        (0, 0, 0)
    assert _degree_map(current_degrees(spark, out)) == {}
    assert _comp_map(current_components(spark, out)) == {}
    t1 = spark.createDataFrame(
        [("a", "p", "b"), ("a", "p", "b"), ("x", "p", "y")], schema)
    row1 = _maintain_batch(spark, t1, 1, out)
    assert (row1["n_triples"], row1["n_new_edges"], row1["n_nodes"]) == \
        (3, 2, 4)
    assert _degree_map(current_degrees(spark, out)) == \
        _degree_map(kg_degrees(t1))
    assert _comp_map(current_components(spark, out)) == \
        _comp_map(_comp_recompute(t1))
    _assert_lineage_matches_stores(spark, out)


def test_maintain_batch_component_merge(spark, tmp_path):
    """Two disjoint components merged by a later batch's bridge edge —
    the incremental labeling must equal the full recompute."""
    out = str(tmp_path / "out")
    _maintain_batch(spark, spark.createDataFrame(
        [("a", "p", "b"), ("x", "p", "y")], ["subj", "pred", "obj"]), 0, out)
    comp = _comp_map(current_components(spark, out))
    assert comp == {"a": "a", "b": "a", "x": "x", "y": "x"}
    # bridge batch merges the two components; min label wins globally
    _maintain_batch(spark, spark.createDataFrame(
        [("b", "p", "x")], ["subj", "pred", "obj"]), 1, out)
    comp = _comp_map(current_components(spark, out))
    assert comp == {n: "a" for n in ("a", "b", "x", "y")}
    edges = spark.read.option("basePath", f"{out}/edges") \
        .parquet(f"{out}/edges/batch=*")
    assert comp == _comp_map(_comp_recompute(edges))


def test_component_store_bootstrap_upgrade(spark, tmp_path):
    """A store written before the component twin existed (simulated by
    deleting components/) bootstraps from the novel-edge store on the
    next batch AND on read through current_components."""
    import shutil
    out = str(tmp_path / "out")
    _maintain_batch(spark, spark.createDataFrame(
        [("a", "p", "b"), ("x", "p", "y")], ["subj", "pred", "obj"]), 0, out)
    shutil.rmtree(f"{out}/components")
    # read path: bootstraps from the edge store
    assert _comp_map(current_components(spark, out)) == \
        {"a": "a", "b": "a", "x": "x", "y": "x"}
    # write path: next batch folds its edges into the bootstrapped labels
    _maintain_batch(spark, spark.createDataFrame(
        [("y", "p", "z")], ["subj", "pred", "obj"]), 1, out)
    comp = _comp_map(current_components(spark, out))
    edges = spark.read.option("basePath", f"{out}/edges") \
        .parquet(f"{out}/edges/batch=*")
    assert comp == _comp_map(_comp_recompute(edges))


def test_maintain_batch_replay_idempotent(spark, tmp_path):
    out = str(tmp_path / "out")
    t1 = spark.createDataFrame([("a", "p", "b")], ["subj", "pred", "obj"])
    t2 = spark.createDataFrame([("b", "p", "c")], ["subj", "pred", "obj"])
    _maintain_batch(spark, t1, 0, out)
    _maintain_batch(spark, t2, 1, out)
    before = _degree_map(current_degrees(spark, out))
    comp_before = _comp_map(current_components(spark, out))
    # replay batch 1 (crash-before-checkpoint-commit scenario): stores
    # must end up identical, not doubled
    _maintain_batch(spark, t2, 1, out)
    assert _degree_map(current_degrees(spark, out)) == before
    assert _comp_map(current_components(spark, out)) == comp_before
    ev = {(r["subj"], r["obj"]): r["n_obs"]
          for r in fold_evidence(spark, out).collect()}
    assert ev == {("a", "b"): 1, ("b", "c"): 1}


def test_streaming_matches_batch_recompute(spark, workdir):
    from palladian_spark.graph import kg_degrees
    from palladian_spark.relations import extract_canonical_triples

    in_dir, out_dir = str(workdir / "in"), str(workdir / "out")
    model, entity_dict = _setup(spark)

    _write_batch(spark, in_dir, "b1", 4)
    run_streaming_kg_maintenance(spark, in_dir, out_dir, model, entity_dict)

    # second drain with no new input: nothing changes
    last0 = _degree_map(current_degrees(spark, out_dir))
    run_streaming_kg_maintenance(spark, in_dir, out_dir, model, entity_dict)
    assert _degree_map(current_degrees(spark, out_dir)) == last0

    # a second wave arrives → only the delta is folded in
    _write_batch(spark, in_dir, "b2", 3)
    run_streaming_kg_maintenance(spark, in_dir, out_dir, model, entity_dict)

    full = extract_canonical_triples(
        spark.read.parquet(in_dir), model, entity_dict)
    assert _degree_map(current_degrees(spark, out_dir)) == \
        _degree_map(kg_degrees(full))
    # incremental component store == full recompute over everything
    assert _comp_map(current_components(spark, out_dir)) == \
        _comp_map(_comp_recompute(full))
    # cumulative folded evidence == full recompute's observation counts
    expect = {(r["subj"], r["pred"], r["obj"]): r["n"]
              for r in full.groupBy("subj", "pred", "obj")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    got = {(r["subj"], r["pred"], r["obj"]): r["n_obs"]
           for r in fold_evidence(spark, out_dir).collect()}
    assert got == expect
    # edge store is append-only novel edges: total == distinct edge count
    edges = spark.read.option("basePath", f"{out_dir}/edges") \
        .parquet(f"{out_dir}/edges/batch=*")
    assert edges.count() == \
        full.select("subj", "pred", "obj").distinct().count()
    _assert_lineage_matches_stores(spark, out_dir)


def test_compact_stores_preserves_folds(spark, tmp_path):
    from palladian_spark.streaming.kg_maintain import compact_stores
    out = str(tmp_path / "out")
    for i, rows in enumerate([[("a", "p", "b"), ("a", "p", "b")],
                              [("b", "p", "c")],
                              [("a", "p", "b"), ("c", "p", "d")]]):
        _maintain_batch(spark, spark.createDataFrame(
            rows, ["subj", "pred", "obj"]), i, out)
    ev_before = {(r["subj"], r["obj"]): r["n_obs"]
                 for r in fold_evidence(spark, out).collect()}
    deg_before = _degree_map(current_degrees(spark, out))
    n = compact_stores(spark, out)
    assert n == {"evidence_delta": 3, "edges": 3}
    assert {(r["subj"], r["obj"]): r["n_obs"]
            for r in fold_evidence(spark, out).collect()} == ev_before
    # a further batch after compaction still anti-joins correctly
    _maintain_batch(spark, spark.createDataFrame(
        [("a", "p", "b"), ("d", "p", "e")], ["subj", "pred", "obj"]), 3, out)
    deg = _degree_map(current_degrees(spark, out))
    # d already carried in-degree 1 from batch 2's (c, p, d)
    assert deg["d"] == (1, 1) and deg["e"] == (0, 1)
    assert deg["a"] == deg_before["a"]  # repeated edge adds no degree
    ev = {(r["subj"], r["obj"]): r["n_obs"]
          for r in fold_evidence(spark, out).collect()}
    assert ev[("a", "b")] == 4  # 2 + 1 + 1 across compaction boundary


def test_run_kg_maintain_job(spark, workdir, capsys):
    import json as _json
    from jobs.run_kg_maintain import main
    in_dir, out_dir = str(workdir / "in"), str(workdir / "out")
    _write_batch(spark, in_dir, "b1", 3)
    assert main(["--input", in_dir, "--output", out_dir, "--compact"],
                stop=False) == 0
    stats = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["nodes"] > 0


# --- late-data policy ---------------------------------------------------

def _write_batch_at(spark, in_dir, conv_prefix, n, ts):
    """Like _write_batch but with every turn pinned to one event time."""
    import pandas as pd
    from palladian_spark.data.transcripts import synthetic_transcripts_pdf
    tp, _ = synthetic_transcripts_pdf(n_convs=n, turns_per_conv=4)
    tp["conv_id"] = conv_prefix + "-" + tp["conv_id"]
    tp["ts"] = pd.Timestamp(ts)
    spark.createDataFrame(tp).coalesce(1).write.mode("append") \
        .parquet(str(in_dir))
    return tp


def test_late_turns_routed_and_reconciled(spark, workdir):
    """Shuffled-timestamp replay: turns older than the watermark are
    routed to the correction store (never into the main artifacts), and
    reconciled_artifacts == the batch recompute over EVERYTHING."""
    from palladian_spark.graph import kg_degrees
    from palladian_spark.relations import extract_canonical_triples
    from palladian_spark.streaming.kg_maintain import (
        read_late_turns, reconciled_artifacts)

    in_dir, out_dir = str(workdir / "in"), str(workdir / "out")
    model, entity_dict = _setup(spark)
    horizon = 3600.0

    # wave 1: everything at T0 → establishes watermark T0 - 1h
    _write_batch_at(spark, in_dir, "w1", 4, "2026-01-02 12:00:00")
    run_streaming_kg_maintenance(spark, in_dir, out_dir, model,
                                 entity_dict,
                                 lateness_horizon_sec=horizon)

    # wave 2: on-time rows at T0+10min, late rows 2 days earlier
    _write_batch_at(spark, in_dir, "w2on", 3, "2026-01-02 12:10:00")
    _write_batch_at(spark, in_dir, "w2late", 3, "2025-12-31 12:00:00")
    run_streaming_kg_maintenance(spark, in_dir, out_dir, model,
                                 entity_dict,
                                 lateness_horizon_sec=horizon)

    # the correction store holds exactly the late wave, text-identical
    # per (conv_id, turn_idx) — the north-rule per-turn invariant
    late = read_late_turns(spark, out_dir)
    got_late = {(r["conv_id"], r["turn_idx"]): r["text"]
                for r in late.collect()}
    assert set(k[0].split("-", 1)[0] for k in got_late) == {"w2late"}
    all_rows = spark.read.parquet(in_dir)
    want_late = {(r["conv_id"], r["turn_idx"]): r["text"]
                 for r in all_rows
                 .where(F.col("conv_id").startswith("w2late")).collect()}
    assert got_late == want_late
    # each lineage row's n_late counts the rows its batch routed
    routed = {r["batch"]: r["n"] for r in late.groupBy("batch")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    for r in spark.read.parquet(f"{out_dir}/lineage").collect():
        assert r["n_late"] == routed.get(r["batch_id"], 0)
    _assert_lineage_matches_stores(spark, out_dir)

    # main stores == batch recompute over the ON-TIME subset only
    on_time = all_rows.where(~F.col("conv_id").startswith("w2late"))
    on_triples = extract_canonical_triples(on_time, model, entity_dict)
    assert _degree_map(current_degrees(spark, out_dir)) == \
        _degree_map(kg_degrees(on_triples))

    # reconciled artifacts == batch recompute over EVERYTHING
    rec = reconciled_artifacts(spark, out_dir, model, entity_dict)
    full = extract_canonical_triples(all_rows, model, entity_dict)
    assert _degree_map(rec["degrees"]) == _degree_map(kg_degrees(full))
    expect_ev = {(r["subj"], r["pred"], r["obj"]): r["n"]
                 for r in full.groupBy("subj", "pred", "obj")
                 .agg(F.count(F.lit(1)).alias("n")).collect()}
    got_ev = {(r["subj"], r["pred"], r["obj"]): r["n_obs"]
              for r in rec["evidence"].collect()}
    assert got_ev == expect_ev
    assert rec["edges"].count() == \
        full.select("subj", "pred", "obj").distinct().count()
    # reconciled components == full recompute over everything
    assert _comp_map(rec["components"]) == _comp_map(_comp_recompute(full))
    # main store's components == recompute over the on-time subset only
    assert _comp_map(current_components(spark, out_dir)) == \
        _comp_map(_comp_recompute(on_triples))


def test_reconciled_artifacts_no_late_store(spark, workdir):
    """Without late rows the reconciled view is just the main stores."""
    from palladian_spark.streaming.kg_maintain import reconciled_artifacts
    in_dir, out_dir = str(workdir / "in"), str(workdir / "out")
    model, entity_dict = _setup(spark)
    _write_batch_at(spark, in_dir, "w1", 3, "2026-01-02 12:00:00")
    run_streaming_kg_maintenance(spark, in_dir, out_dir, model,
                                 entity_dict,
                                 lateness_horizon_sec=3600.0)
    rec = reconciled_artifacts(spark, out_dir, model, entity_dict)
    assert _degree_map(rec["degrees"]) == \
        _degree_map(current_degrees(spark, out_dir))
