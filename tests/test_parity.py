"""Every registered query must match its oracle exactly —
the local twin of the driver's CORRECTNESS gate."""

from __future__ import annotations

import pytest

from gostream_spark.registry import all_queries
from tools.oracle import compare

_QUERIES = all_queries()


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_query_parity(spark, sf_dir, oracle, name):
    q = _QUERIES[name]
    compare(q.fn(spark, sf_dir), q.oracle, oracle)


def test_compare_accepts_two_empty_results_of_different_int_types(spark):
    """Both sides empty agree whatever their column types: an empty
    Spark ``bigint`` column against an empty DuckDB ``INTEGER`` one."""
    import duckdb

    con = duckdb.connect()
    try:
        sdf = spark.createDataFrame([], "n BIGINT")
        assert compare(sdf, "SELECT 1::INTEGER AS n WHERE false", con) == 0
    finally:
        con.close()


@pytest.mark.parametrize(
    "spark_rows, spark_schema, oracle_sql",
    [
        # a lone-event stddev: Spark NaN against a DuckDB NULL
        ([(float("nan"),)], "x DOUBLE", "SELECT NULL::DOUBLE AS x"),
        # an int against an integral double, beside a NULL in the column
        (
            [(3,), (None,)],
            "x BIGINT",
            "SELECT * FROM (VALUES (3.0::DOUBLE), (NULL)) t(x)",
        ),
    ],
)
def test_compare_tells_nan_from_null_and_int_from_float(
    spark, spark_rows, spark_schema, oracle_sql
):
    import duckdb

    con = duckdb.connect()
    try:
        sdf = spark.createDataFrame(spark_rows, spark_schema)
        with pytest.raises(AssertionError, match="value mismatch"):
            compare(sdf, oracle_sql, con)
    finally:
        con.close()
