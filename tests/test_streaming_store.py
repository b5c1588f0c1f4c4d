"""The streaming store layout (streaming/store.py): committed ``batch=N``
partitions are listed without a Spark job, read exactly, and written
with per-partition overwrite."""

import os
import shutil

from palladian_spark.streaming.store import (committed_batches,
                                             compact_batches, read_batches,
                                             write_batch)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_absent_store(spark, tmp_path):
    base = str(tmp_path / "missing")
    assert committed_batches(base) == []
    assert read_batches(spark, base, committed_batches(base)) is None


def test_write_and_read_exact_partitions(spark, tmp_path):
    base = str(tmp_path / "store")
    for i in range(3):
        write_batch(spark.createDataFrame([(i, f"v{i}")], "k long, v string"),
                    base, i)
    assert committed_batches(base) == [0, 1, 2]
    assert _rows(read_batches(spark, base, [0, 2])) == \
        [(0, "v0", 0), (2, "v2", 2)]
    # overwrite replaces the partition, it does not append to it
    write_batch(spark.createDataFrame([(9, "w")], "k long, v string"),
                base, 1)
    assert _rows(read_batches(spark, base, [1])) == [(9, "w", 1)]


def test_empty_committed_partition_is_listed(spark, tmp_path):
    base = str(tmp_path / "store")
    write_batch(spark.createDataFrame([], "k long, v string"), base, 0)
    assert committed_batches(base) == [0]
    df = read_batches(spark, base, [0])
    assert df.count() == 0
    assert df.columns == ["k", "v", "batch"]


def test_uncommitted_and_foreign_entries_ignored(spark, tmp_path):
    base = str(tmp_path / "store")
    write_batch(spark.createDataFrame([(0, "a")], "k long, v string"),
                base, 0)
    write_batch(spark.createDataFrame([(1, "b")], "k long, v string"),
                base, 1)
    # batch=1's write has not committed: its files are still in _temporary
    os.makedirs(f"{base}/batch=1/_temporary/0")
    for part in os.listdir(f"{base}/batch=1"):
        if part.endswith(".parquet"):
            os.rename(f"{base}/batch=1/{part}",
                      f"{base}/batch=1/_temporary/0/{part}")
    os.remove(f"{base}/batch=1/_SUCCESS")
    # a compaction's scratch directory and an unrelated file
    shutil.copytree(f"{base}/batch=0", f"{base}/_compact_tmp")
    open(f"{base}/notes.txt", "w").close()

    assert committed_batches(base) == [0]
    # the listing gives the rows a read of every batch=* directory gives
    globbed = spark.read.option("basePath", base).parquet(f"{base}/batch=*")
    assert _rows(read_batches(spark, base, committed_batches(base))) == \
        _rows(globbed) == [(0, "a", 0)]


def test_compact_batches(spark, tmp_path):
    base = str(tmp_path / "store")
    for i in range(3):
        write_batch(spark.createDataFrame([(i,)], "k long"), base, i)
    assert compact_batches(spark, base) == 3
    assert committed_batches(base) == [2]
    assert sorted(os.listdir(base)) == ["batch=2"]
    assert _rows(read_batches(spark, base, [2])) == [(0, 2), (1, 2), (2, 2)]
    assert compact_batches(spark, base) == 0


def test_compact_batches_survives_a_crash_at_every_step(spark, tmp_path,
                                                         monkeypatch):
    """A crash at any rename or rmtree of a compaction, and then at any
    step of the recovery, loses no row: the next listing reads the rows
    of before the compaction, and a retry compacts them."""
    seed = str(tmp_path / "seed")
    for i in range(3):
        write_batch(spark.createDataFrame([(i,)], "k long"), seed, i)
    want = [(0,), (1,), (2,)]
    fault = {"at": 0, "steps": 0}

    def crashing(real):
        def step(path, *args):
            if str(path).startswith(str(tmp_path / "case")):
                fault["steps"] += 1
                if fault["steps"] == fault["at"]:
                    raise OSError("injected crash")
            return real(path, *args)
        return step

    monkeypatch.setattr(os, "rename", crashing(os.rename))
    monkeypatch.setattr(shutil, "rmtree", crashing(shutil.rmtree))

    def run(fn, base, at):
        fault.update(at=at, steps=0)
        try:
            fn(base)
        except OSError:
            return True
        finally:
            fault["at"] = 0
        return False

    def rows(base):
        df = read_batches(spark, base, committed_batches(base))
        return sorted(tuple(r)[:1] for r in df.collect())

    clean = str(tmp_path / "case_clean")
    shutil.copytree(seed, clean)
    assert not run(lambda b: compact_batches(spark, b), clean, 0)
    n_steps = fault["steps"]
    assert n_steps == 5   # 3 renames aside, 1 rename in, 1 rmtree

    for k in range(1, n_steps + 1):
        crashed = str(tmp_path / f"case_{k}")
        shutil.copytree(seed, crashed)
        assert run(lambda b: compact_batches(spark, b), crashed, k)
        # the recovery itself crashes at each of its steps in turn
        j = 1
        while True:
            again = f"{crashed}_r{j}"
            shutil.copytree(crashed, again)
            if not run(committed_batches, again, j):
                break
            assert rows(again) == want
            j += 1
        assert rows(crashed) == want
        compact_batches(spark, crashed)
        assert committed_batches(crashed) == [2]
        assert sorted(os.listdir(crashed)) == ["batch=2"]
        assert rows(crashed) == want
