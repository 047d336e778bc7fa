"""Every registered query must match its oracle exactly —
the local twin of the driver's CORRECTNESS gate."""

from __future__ import annotations

import os

import pytest

from gostream_spark.registry import all_queries
from tools.oracle import compare, oracle_con

_QUERIES = all_queries()


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_query_parity(spark, sf_dir, oracle, name):
    q = _QUERIES[name]
    compare(q.fn(spark, sf_dir), q.oracle, oracle)


# Both sides return no rows at sf0.01, the driver gate's scale, so the
# gate passes these whatever they compute; at sf0.1 they return 15, 7
# and 1 rows.
_EMPTY_AT_GATE_SCALE = (
    "winnowing_candidate_pairs",
    "cross_source_duplication_matrix",
    "sql_not_exists_idle_customers",
)


@pytest.fixture(scope="module")
def sf01(sf_dir):
    """The sf0.1 fixture beside the test fixture, with its oracle."""
    sf = os.path.join(os.path.dirname(sf_dir), "sf0.1")
    if not os.path.isdir(sf):
        pytest.skip(f"no sf0.1 fixture at {sf}")
    con = oracle_con(sf)
    yield sf, con
    con.close()


@pytest.mark.parametrize("name", _EMPTY_AT_GATE_SCALE)
def test_query_parity_nonempty_at_sf01(spark, sf01, name):
    sf, con = sf01
    q = _QUERIES[name]
    assert compare(q.fn(spark, sf), q.oracle, con) > 0


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
