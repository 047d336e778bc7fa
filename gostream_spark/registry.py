"""Query registry: the bridge between the engine's operator library and
the driver contract (``__spark_entry__.py``).

Every implemented operator from SURVEY.md §2 registers here as a named
query (a ``(spark, sf_dir) -> DataFrame`` callable) plus its DuckDB
oracle SQL string, which registration requires. The driver compares
the two at sf=0.01 with an order-insensitive value hash, so registered
pairs MUST agree bit-for-bit: alias every computed column identically,
route money aggregates through exact DECIMAL arithmetic, and format
timestamps to strings (see ``gostream_spark.parity``).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryDef:
    name: str
    fn: QueryFn
    oracle: str  # DuckDB SQL the result must equal exactly
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    bench: bool = False  # include in bench.py's headline set


_REGISTRY: dict[str, QueryDef] = {}


def register(
    name: str,
    oracle: str,
    doc: str = "",
    tags: tuple[str, ...] = (),
    bench: bool = False,
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query implementation with its oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QueryDef(name, fn, oracle, doc or (fn.__doc__ or ""), tags, bench)
        return fn

    return deco


def _ensure_loaded() -> None:
    # Importing the query modules populates the registry.
    import gostream_spark.queries  # noqa: F401


def all_queries() -> dict[str, QueryDef]:
    _ensure_loaded()
    return dict(_REGISTRY)


def get_query(name: str) -> QueryDef:
    _ensure_loaded()
    return _REGISTRY[name]


def queries() -> dict[str, QueryFn]:
    """Driver-contract shape: name -> callable(spark, sf_dir)."""
    return {n: q.fn for n, q in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    """Driver-contract shape: name -> DuckDB SQL."""
    return {n: q.oracle for n, q in all_queries().items()}
