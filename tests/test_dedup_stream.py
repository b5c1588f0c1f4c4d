"""Streaming dedup: micro-batches deduped within themselves and against
the accumulated survivor store, with checkpointed ingestion and
idempotent per-batch output."""

import glob

import pytest

from palladian_spark.streaming.dedup_stream import (_dedup_batch,
                                                    run_streaming_dedup)

SCHEMA = "doc_id string, text string"

BASE_TEXT = "alpha beta gamma delta epsilon zeta eta theta"
NEAR_TEXT = "alpha beta gamma delta epsilon zeta eta iota"   # 1-token drift
OTHER = "completely different words about another topic entirely"
OTHER_NEAR = "completely different words about another topic utterly"
THIRD = "third topic with its own vocabulary and phrasing here"


@pytest.fixture()
def dirs(tmp_path):
    (tmp_path / "in").mkdir()
    return str(tmp_path / "in"), str(tmp_path / "out")


def _write(spark, in_dir, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1) \
        .write.mode("append").parquet(in_dir)


def _read_map(spark, path, key, *cols):
    return {r[key]: tuple(r[c] for c in cols)
            for r in spark.read.parquet(path).collect()}


def test_dedup_batch_kernel_stages(spark):
    batch = spark.createDataFrame(
        [("d1", BASE_TEXT), ("d2", BASE_TEXT),       # within-exact
         ("d3", NEAR_TEXT),                          # within-near of d1
         ("d4", OTHER)], SCHEMA)
    base = spark.createDataFrame([("b1", THIRD)], SCHEMA)
    survivors, decisions = _dedup_batch(batch, 0, base, "doc_id", "text",
                                        threshold=0.5)
    dec = {r["doc_id"]: (r["decision"], r["dup_of"])
           for r in decisions.collect()}
    assert dec["d2"] == ("within_exact", "d1")
    assert dec["d3"] == ("within_near", "d1")
    assert dec["d1"] == ("kept", None) and dec["d4"] == ("kept", None)
    assert {r["doc_id"] for r in survivors.collect()} == {"d1", "d4"}

    # an empty survivor store (a committed partition with no rows) decides
    # exactly like no store at all
    def outputs(base_df):
        surv, dec = _dedup_batch(batch, 0, base_df, "doc_id", "text",
                                 threshold=0.5)
        return ({r["doc_id"] for r in surv.collect()},
                {tuple(r) for r in dec.collect()})
    assert outputs(spark.createDataFrame([], SCHEMA)) == outputs(None)


def test_streaming_two_waves_and_checkpoint(spark, dirs):
    in_dir, out_dir = dirs
    _write(spark, in_dir, [("d1", BASE_TEXT), ("d2", BASE_TEXT),
                           ("d4", OTHER)])
    run_streaming_dedup(spark, in_dir, out_dir, SCHEMA)

    surv0 = _read_map(spark, f"{out_dir}/survivors", "doc_id", "batch")
    assert set(surv0) == {"d1", "d4"}

    # wave 2: exact dup of base d1, near dup of base d4, genuinely new
    # (e2 must NOT be a within-batch near dup of e1 — the within stage
    # runs first and would claim it)
    _write(spark, in_dir, [("e1", BASE_TEXT), ("e2", OTHER_NEAR),
                           ("e3", THIRD)])
    run_streaming_dedup(spark, in_dir, out_dir, SCHEMA)

    surv = _read_map(spark, f"{out_dir}/survivors", "doc_id", "batch")
    assert set(surv) == {"d1", "d4", "e3"}
    assert surv["e3"] == (1,)

    dec = _read_map(spark, f"{out_dir}/decisions", "doc_id",
                    "decision", "dup_of")
    assert dec["e1"][0] == "base_exact"
    assert dec["e2"] == ("base_near", "d4")
    assert dec["e3"][0] == "kept"

    # checkpointed ingestion: wave-1 docs were NOT reprocessed in batch 1
    lineage = _read_map(spark, f"{out_dir}/lineage", "batch_id",
                        "n_in", "n_kept")
    assert lineage[0] == (3, 2) and lineage[1] == (3, 1)

    # a third run with no new files adds no batches
    run_streaming_dedup(spark, in_dir, out_dir, SCHEMA)
    assert len(glob.glob(f"{out_dir}/survivors/batch=*")) == 2
