"""On-disk layout of the streaming stores: one parquet directory per
micro-batch, ``<base>/batch=N``, overwritten by its own batch.

A partition counts once Spark has committed it (its ``_SUCCESS`` marker
exists).  An uncommitted or crashed write keeps its files under
``_temporary/``, which a parquet read skips, so the committed listing
gives the rows a read of ``batch=*`` gives, with no Spark job.  An empty
committed partition is a partition.  Paths are local directories.
"""

from __future__ import annotations

import os
import shutil
from typing import Iterable, Optional

from pyspark.sql import DataFrame, SparkSession


def _path(base: str, batch_id: int) -> str:
    return f"{base}/batch={int(batch_id)}"


def committed_batches(base: str) -> list[int]:
    """Sorted ids of the committed ``batch=N`` partitions under ``base``;
    ``[]`` when ``base`` does not exist.  Other entries are ignored."""
    if not os.path.isdir(base):
        return []
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
    partitions were folded (0 when there are fewer than two)."""
    ids = committed_batches(base)
    if len(ids) <= 1:
        return 0
    tmp = f"{base}/_compact_tmp"
    read_batches(spark, base, ids).drop("batch") \
        .write.mode("overwrite").parquet(tmp)
    for i in ids:
        shutil.rmtree(_path(base, i))
    os.rename(tmp, _path(base, ids[-1]))
    return len(ids)
