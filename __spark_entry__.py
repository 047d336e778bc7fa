"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over ``gostream_spark.registry``: every operator from
SURVEY.md §2 registers itself (spark callable + DuckDB oracle) in the
engine package; this module just re-exposes the registry in the
driver's shape.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# The driver loads this file via importlib.spec_from_file_location,
# which does not add this directory to sys.path — bootstrap it so
# ``import gostream_spark`` resolves regardless of the driver's cwd.
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gostream_spark import registry  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H-Q1-style pricing summary) on sf0.001."""
    return registry.get_query("pricing_summary").fn(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return registry.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL for every registered query."""
    return registry.oracle_sql()
