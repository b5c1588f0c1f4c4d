"""session.local_frame: driver-built rows plan a LocalTableScan (no Python
task), keep the DDL schema exactly and keep nulls. session.get_spark: the
driver heap defaults to half the host's memory, at most 24g."""

import pytest

from pyspark.sql.types import StructType

from palladian_spark.session import local_frame

_DDL = "bucket int, stage string, row_count long, checksum long, finished_at double"


@pytest.mark.parametrize("rows", [
    [],
    [(0, "triples", 12, 345, None), (1, None, 0, 0, 1.5)],
])
def test_local_frame_is_local_and_exact(spark, rows):
    df = local_frame(spark, rows, _DDL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
    assert df.schema == StructType.fromDDL(_DDL)
    # a None in the double column reads back as null, not NaN
    assert [tuple(r) for r in df.collect()] == rows


class _Builder:
    """Stands in for ``SparkSession.builder``: records the configs."""

    def __init__(self):
        self.conf = {}

    def appName(self, _name):
        return self

    def master(self, _master):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


@pytest.mark.parametrize("phys_gib, env, heap", [
    (15, None, "7680m"),        # half of a small host
    (64, None, "24576m"),       # capped at 24g
    (15, "2g", "2g"),           # SPARK_DRIVER_MEMORY wins
])
def test_driver_heap_default_is_sized_from_the_host(monkeypatch, phys_gib,
                                                    env, heap):
    from palladian_spark import session

    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys_gib * 2**30 // 4096}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
    if env is None:
        monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    else:
        monkeypatch.setenv("SPARK_DRIVER_MEMORY", env)
    monkeypatch.setattr(session, "SparkSession",
                        type("FakeSession", (), {"builder": _Builder()}))
    conf = session.get_spark("heap-test", master="local[1]")
    assert conf["spark.driver.memory"] == heap
    assert conf["spark.sql.execution.arrow.maxRecordsPerBatch"] == "4096"
