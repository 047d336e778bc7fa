"""Cross-engine determinism helpers (oracle parity).

The driver hash-compares Spark results against DuckDB oracle results
(order-insensitive value hash). Floating-point SUMs are
order-dependent, so any query that sums doubles directly is a latent
hash mismatch. Conventions enforced here:

- **Money/quantity sums go through DECIMAL.** ``dec2(col)`` casts to
  DECIMAL(18,2) before aggregation; decimal addition is exact and
  associative, so Spark's partial/final (partition-order-dependent)
  aggregation and DuckDB's sequential scan produce the *identical*
  value. Cast back to DOUBLE only after the final ``round``.
- **Averages** divide the exact decimal sum (as double) by the exact
  count — one double division, identical on both engines — then round.
- **Timestamps are emitted as strings** (``ts_str``): Spark session TZ
  is pinned to UTC and DuckDB timestamps are UTC-naive, so formatted
  strings agree; raw timestamp objects risk tz/precision drift
  (fixtures mix ms and ns precision — FIXTURES.md).
- **Arrays are emitted as joined strings** when they are the compared
  value (Spark arrays and DuckDB lists stringify differently).
- **Every ORDER BY ... LIMIT has a total-order tiebreak** (append a
  unique key) — otherwise ties make the selected rowset
  nondeterministic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dec2(c: Column | str) -> Column:
    """Exact 2-decimal fixed-point view of a money/quantity column."""
    return _col(c).cast("decimal(18,2)")


def money_sum(c: Column | str, alias: str, scale: int = 2) -> Column:
    """Exact decimal sum, rounded, surfaced as DOUBLE.

    DuckDB twin: ``CAST(round(sum(CAST(x AS DECIMAL(18,2))), s) AS DOUBLE)``.
    """
    return F.round(F.sum(dec2(c)), scale).cast("double").alias(alias)


def exact_avg(c: Column | str, alias: str, scale: int = 2) -> Column:
    """Deterministic average: exact decimal sum / exact count, one
    double division, then round.

    DuckDB twin:
    ``round(CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE) / count(*), s)``.
    """
    total = F.sum(dec2(c)).cast("double")
    return F.round(total / F.count(F.lit(1)), scale).alias(alias)


def ts_str(c: Column | str) -> Column:
    """Second-precision string form of a timestamp (both engines floor)."""
    return F.date_format(_col(c), TS_FMT_SPARK)
