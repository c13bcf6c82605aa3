import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gfftoneo4j_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="gfftoneo4j-tests", cpus=4, shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture()
def registered_by(spark):
    """``registered_by(make)``: the persistent RDDs that ``make()``
    creates and that are still registered after its answer is collected.
    Counting ids, not the size of the map, leaves out RDDs the
    ContextCleaner frees meanwhile, so a leak cannot hide behind them."""
    jsc = spark.sparkContext._jsc

    def count(make) -> int:
        before = set(jsc.getPersistentRDDs().keySet())
        make().collect()
        return len(set(jsc.getPersistentRDDs().keySet()) - before)

    return count
