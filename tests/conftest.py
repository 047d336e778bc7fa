from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gostream_spark.session import get_spark  # noqa: E402
from tools.oracle import oracle_con  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="gostream_spark_tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def oracle(sf_dir):
    """DuckDB connection with views over the test fixture, for
    ``tools.oracle.compare``."""
    con = oracle_con(sf_dir)
    yield con
    con.close()
