"""session.local_frame: driver-built rows plan a LocalTableScan (no Python
task), keep the DDL schema exactly and keep nulls."""

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

