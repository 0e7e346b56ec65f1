from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bb_bigdata_log_tools_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    cpus = os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")
    s = get_spark("bb-tests", master=f"local[{cpus}]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def max_partition_bytes(spark):
    """Set ``spark.sql.files.maxPartitionBytes`` for one test: the size
    ``read_boom`` cuts .bm files into ranges of. Restored afterwards."""
    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    yield lambda n: spark.conf.set(key, str(n))
    spark.conf.set(key, saved)
