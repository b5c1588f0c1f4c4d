"""SparkSession factory with the scale-oriented defaults this engine needs.

Explicit decisions (SURVEY.md §4):
  * AQE on, incl. skew-join handling — hot conversations are the skew risk
    at transcript scale; AQE re-splits oversized post-shuffle partitions.
  * Arrow on — every text operator is a pandas UDF; Arrow batching is the
    JVM↔Python transport.
  * shuffle partitions sized to the parallelism level (override per job);
    at cluster scale this should be ~2-3× total cores.
"""

from __future__ import annotations

import os
from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _default_driver_memory() -> str:
    """The driver heap when ``SPARK_DRIVER_MEMORY`` is unset: 24g, or half
    the host's physical memory when that is less (the heap plus the JVM's
    off-heap and the Python workers must still fit)."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(24 * 1024, half_mb)}m"


def get_spark(app_name: str = "palladian-spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cores = default_parallelism()
    master = master or os.environ.get("SPARK_MASTER", f"local[{cores}]")
    shuffle_partitions = shuffle_partitions or max(2 * cores, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # keep small shuffles parallel: with the default 1 MB floor AQE
        # coalesces a ~30 MB aggregate down to a handful of partitions and
        # the reduce side runs nearly serial (measured 2× on the dedup
        # agg); at cluster scale partitions are far above either floor so
        # this only affects small/intermediate shuffles
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode = driver IS the executor: size the heap for cached
        # intermediate tables + 32 concurrent tasks (8g measurably GC-bound
        # on multi-million-row runs)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY")
                or _default_driver_memory())
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: Iterable[Sequence],
                ddl: str) -> DataFrame:
    """A small driver-built DataFrame (e.g. a lineage row) that runs no
    Python task.  ``spark.createDataFrame(<python list>, ddl)`` plans
    ``Scan ExistingRDD``, a Python RDD over ``defaultParallelism`` slices,
    and each of its tasks pays the Python worker's fixed set-up cost; a
    ``pyarrow.Table`` plans a ``LocalTableScan`` instead.  Rows are tuples
    in ``ddl`` column order; ``None`` reads back as null."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = StructType.fromDDL(ddl)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=field.type)
         for col, field in zip(columns, arrow_schema)], schema=arrow_schema)
    return spark.createDataFrame(table, schema)
