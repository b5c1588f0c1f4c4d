"""On-disk layout of the streaming stores: one parquet directory per
micro-batch, ``<base>/batch=N``, overwritten by its own batch.

A partition counts once Spark has committed it (its ``_SUCCESS`` marker
exists).  An uncommitted or crashed write keeps its files under
``_temporary/``, which a parquet read skips, so the committed listing
gives the rows a read of ``batch=*`` gives, with no Spark job.  An empty
committed partition is a partition.  Paths are local directories.

Compaction swaps directories by rename only, so a crash at any point
leaves a state the next :func:`committed_batches` call finishes or rolls
back: the folded partitions sit in ``_compact_old`` until the committed
``_compact_tmp`` has been renamed in.
"""

from __future__ import annotations

import os
import shutil
from typing import Iterable, Optional

from pyspark.sql import DataFrame, SparkSession


def _path(base: str, batch_id: int) -> str:
    return f"{base}/batch={int(batch_id)}"


def _recover(base: str) -> None:
    """Finish or roll back a compaction that stopped part-way.

    ``_compact_old`` exists only once ``_compact_tmp`` is committed.  With
    ``_compact_tmp`` gone it has been renamed in, so the moved-aside
    partitions are dropped; otherwise they move back and the temp
    directory goes.  Every step leaves a state this function handles."""
    old, tmp = f"{base}/_compact_old", f"{base}/_compact_tmp"
    if os.path.isdir(old):
        if os.path.isdir(tmp):
            for name in os.listdir(old):
                os.rename(f"{old}/{name}", f"{base}/{name}")
        shutil.rmtree(old)
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)


def committed_batches(base: str) -> list[int]:
    """Sorted ids of the committed ``batch=N`` partitions under ``base``;
    ``[]`` when ``base`` does not exist.  Other entries are ignored.  A
    compaction that stopped part-way is finished or rolled back first."""
    if not os.path.isdir(base):
        return []
    _recover(base)
    return sorted(int(name[len("batch="):]) for name in os.listdir(base)
                  if name.startswith("batch=")
                  and os.path.exists(f"{base}/{name}/_SUCCESS"))


def read_batches(spark: SparkSession, base: str,
                 ids: Iterable[int]) -> Optional[DataFrame]:
    """Exactly the partitions ``ids`` of ``base``, with their ``batch``
    column; None only when ``ids`` is empty."""
    paths = [_path(base, i) for i in ids]
    if not paths:
        return None
    return spark.read.option("basePath", base).parquet(*paths)


def write_batch(df: DataFrame, base: str, batch_id: int) -> None:
    """Overwrite partition ``batch_id`` of ``base`` with ``df``."""
    df.write.mode("overwrite").parquet(_path(base, batch_id))


def compact_batches(spark: SparkSession, base: str) -> int:
    """Fold every committed partition of ``base`` into one partition at
    the highest id, through ``<base>/_compact_tmp``.  Returns how many
    partitions were folded (0 when there are fewer than two).  Nothing
    else may read or write ``base`` meanwhile: its listing would roll the
    compaction back."""
    ids = committed_batches(base)
    if len(ids) <= 1:
        return 0
    old, tmp = f"{base}/_compact_old", f"{base}/_compact_tmp"
    read_batches(spark, base, ids).drop("batch") \
        .write.mode("overwrite").parquet(tmp)
    if not os.path.exists(f"{tmp}/_SUCCESS"):
        raise RuntimeError(f"compaction of {base} did not commit {tmp}")
    os.mkdir(old)
    for i in ids:
        os.rename(_path(base, i), f"{old}/batch={i}")
    os.rename(tmp, _path(base, ids[-1]))
    shutil.rmtree(old)
    return len(ids)
