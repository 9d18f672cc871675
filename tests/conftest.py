import os
import tempfile

import pytest

from wvlet_spark.config import default_cpus, make_spark

SF_DIR = os.environ.get("WVLET_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMALL = os.environ.get("WVLET_TEST_SF_SMALL", "/root/testdata/sf0.001")
CPUS = default_cpus()


@pytest.fixture(scope="session")
def spark():
    """The engine's Spark configuration for the test tables, as users and
    the benchmarks get it."""
    warehouse = tempfile.mkdtemp(prefix="wv_warehouse_")
    yield make_spark(SF_DIR, CPUS, warehouse_dir=warehouse)


@pytest.fixture(scope="session")
def ws(spark):
    from wvlet_spark import WvletSession

    return WvletSession(spark, table_dir=SF_DIR, file_base=os.path.join(
        os.path.dirname(__file__), "fixtures"))


@pytest.fixture(scope="session")
def duck():
    from wvlet_spark.oracle import duckdb_connect

    return duckdb_connect(SF_DIR)
