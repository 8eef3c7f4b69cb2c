import os
import time

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")  # small & fast for unit tests


@pytest.fixture(scope="session")
def spark():
    from feast_ibm_spark.session import get_spark

    spark = get_spark(app_name="feast-ibm-spark-tests", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture
def new_york_driver(monkeypatch):
    """The driver's zone pinned to America/New_York for one test, on any
    host: pyspark's ``toInternal``/``fromInternal`` read and write naive
    datetimes in it, so a time bound that leaks the driver's zone shows."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


@pytest.fixture(scope="session")
def sf_dir():
    d = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
    if not os.path.isdir(d):
        pytest.skip("synthetic testdata not available (set SPARK_GRAFT_SF_DIR_TEST)")
    return d
