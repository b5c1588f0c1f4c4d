import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from palladian_spark.session import get_spark
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    # the session JVM lives for the whole suite and grows toward its max
    # heap; get_spark's 24g default lets it outgrow a small host's RAM
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "6g")
    spark = get_spark("palladian-tests", master="local[4]", shuffle_partitions=8)
    yield spark
    spark.stop()
