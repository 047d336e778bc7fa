"""The one Spark-vs-DuckDB oracle check.

Every registered query is correct only because it equals its DuckDB
oracle over the same parquet fixture. ``oracle_con`` builds the
oracle's views; ``compare`` runs the oracle and asserts the Spark
result equals it exactly: the same column names, and the same rows
after sorting columns by name and rows by value. The driver's value
hash is order-insensitive but otherwise exact, so a query that passes
here matches any reasonable hash of the same data. ``tools/sweep.py``,
``tests/test_parity.py`` and the degenerate-input tests all check
through this module.
"""

from __future__ import annotations

import os
from collections import Counter

import duckdb
from pyspark.sql import Row

from gostream_spark.io import TABLES, table_path


def oracle_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per fixture table present in
    ``sf_dir``. A table may be a single file or a sharded directory
    (the restage_sharded.py determinism axis); a missing table gets no
    view, so partial fixtures (one staged table) work too."""
    con = duckdb.connect()
    for t in TABLES:
        path = table_path(sf_dir, t)
        if not os.path.exists(path):
            continue
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return con


def _canon_value(v) -> str:
    """One value as an exact string: NULL and NaN stay distinct, so
    do int 3 and float 3.0. Arrays canonicalize element-wise; a Spark
    struct (Row) and a DuckDB struct (dict) both canonicalize as their
    field-to-value mapping, as do maps."""
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, Row):
        v = v.asDict()
    if isinstance(v, dict):
        return "{" + ", ".join(sorted(
            f"{_canon_value(k)}: {_canon_value(x)}" for k, x in v.items()
        )) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ", ".join(map(_canon_value, v)) + "]"
    return str(v)


def _canon(cols: list, rows: list) -> tuple[list, list]:
    """Column names sorted, and the rows as sorted tuples of canonical
    value strings in that column order."""
    order = sorted(range(len(cols)), key=cols.__getitem__)
    return (
        [cols[i] for i in order],
        sorted(tuple(_canon_value(r[i]) for i in order) for r in rows),
    )


def compare(spark_df, oracle_sql: str, con: duckdb.DuckDBPyConnection) -> int:
    """Assert the Spark result and the DuckDB oracle agree exactly;
    return the row count. Both sides are read as Python rows
    (``collect()`` and ``fetchall()``), with no pandas coercion, so a
    NULL never passes for a NaN nor an int for a float. The rows
    compare as lists, so two empty results agree whatever their
    column types."""
    got_cols, got = _canon(spark_df.columns, spark_df.collect())
    cur = con.execute(oracle_sql)
    want_cols, want = _canon([d[0] for d in cur.description], cur.fetchall())
    if got_cols != want_cols:
        raise AssertionError(
            f"schema mismatch: spark={got_cols} duckdb={want_cols}"
        )
    if got != want:
        g, w = Counter(got), Counter(want)
        raise AssertionError(
            f"value mismatch: spark {len(got)} rows, oracle {len(want)} rows\n"
            f"  spark-only  {list((g - w).elements())[:5]}\n"
            f"  oracle-only {list((w - g).elements())[:5]}"
        )
    return len(got)
