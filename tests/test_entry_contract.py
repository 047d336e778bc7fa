"""Driver-contract shape tests: __spark_entry__ must expose
entry/queries/oracle_sql in exactly the shape the grading driver
consumes (TESTDATA.md / SURVEY §5.2)."""

from __future__ import annotations

import importlib.util
import os

from pyspark.sql import DataFrame

_ENTRY = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "__spark_entry__.py"
)


def _load():
    spec = importlib.util.spec_from_file_location("__spark_entry__", _ENTRY)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_contract_shape(spark):
    mod = _load()
    qs = mod.queries()
    oracles = mod.oracle_sql()
    assert isinstance(qs, dict) and len(qs) >= 70
    assert isinstance(oracles, dict)
    # every oracle belongs to a registered query
    assert set(oracles) <= set(qs)
    # the vast majority must be exact-checked
    assert len(oracles) >= len(qs) - 9
    for name, fn in qs.items():
        assert callable(fn), name
    for name, sql in oracles.items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_entry_returns_rows(spark, sf_dir):
    mod = _load()
    df = mod.entry(spark)
    assert isinstance(df, DataFrame)
    rows = df.collect()
    assert len(rows) > 0
    assert len(df.columns) > 0


def test_registry_hygiene():
    """Catalog-wide invariants: every query is documented; every
    oracle references only fixture tables (no typo'd or phantom
    views); every query maps to a SURVEY row. That every query has an
    oracle is ``registry.register``'s own rule."""
    import re

    from gostream_spark.io import TABLES
    from gostream_spark.registry import all_queries

    table_re = re.compile(r"\b(?:FROM|JOIN)\s+([a-z_][a-z0-9_]*)", re.I)
    known = set(TABLES)
    # Coverage-frame invariant (VERDICT r13 #2): every registered
    # query maps to >=1 SURVEY §2 row — a query tagged only with
    # free-form tags ("ext") would silently escape COVERAGE.md's
    # 69-row accounting (lang_id_heuristic did exactly that in r13).
    import tools.gen_coverage as gc

    row_ids = {row for row, _ in gc.ROWS}
    for name, q in all_queries().items():
        assert q.doc.strip(), f"{name} has no docstring"
        assert q.tags, f"{name} has no tags"
        assert row_ids.intersection(q.tags), (
            f"{name} maps to zero SURVEY rows (tags={q.tags}); add a "
            "row tag like ('L8', 'ext')"
        )
        for t in table_re.findall(q.oracle):
            # CTE names shadow tables legitimately; only flag
            # identifiers that are neither fixtures nor defined as
            # CTEs/aliases in the same oracle
            if t in known:
                continue
            assert re.search(
                rf"\b{t}\b\s+AS\s+(?:MATERIALIZED\s*)?\(|\)\s*(?:AS\s+)?{t}\b|\b{t}\(",
                q.oracle,
                re.I,
            ) or t in ("unnest",), f"{name}: unknown table {t!r} in oracle"


def test_register_refuses_a_query_without_an_oracle():
    """Every query is checked exactly against its DuckDB oracle, so
    registering one without an oracle fails."""
    import pytest

    from gostream_spark.registry import register

    with pytest.raises(TypeError):
        register("no_oracle")


def test_every_query_returns_atomic_columns(spark, sf_dir):
    """The driver's pandas canonicalizer sorts result frames by every
    column; array/map/struct cells are unhashable there and turn a
    passing query into an artifact error (observed round 3:
    agg_approx_percentile). House rule: registered queries return
    ATOMIC columns only — this builds every plan and checks the
    schema, so the failure class cannot recur."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    mod = _load()
    bad = []
    for name, fn in mod.queries().items():
        df = fn(spark, sf_dir)
        for f in df.schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                bad.append((name, f.name, f.dataType.simpleString()))
    assert not bad, bad
