"""Scalar-function helpers shared by the query catalog (SURVEY.md §2.3).

Everything here is a thin composition of built-in
``pyspark.sql.functions`` — JVM-side, codegen-friendly — so the
engine's scalar layer adds zero Python-boundary cost. Cross-engine
(DuckDB-oracle) pitfalls are centralized here so each query doesn't
re-derive them:

- day-of-week: Spark ``weekday`` (Mon=0) == DuckDB ``isodow - 1``.
- hashes: only md5/sha2 agree across engines; xxhash64/hash are
  Spark-internal (fine for partitioning keys, never for oracle
  comparison).
- array sums: cast elements to double BEFORE folding so both engines
  accumulate in float64 in array order.
- per-label centroids: cross-row element sums go through DECIMAL(18,7),
  are divided by the count and rounded to 6 places (``centroids``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot_product(a: Column, b: Column) -> Column:
    """Dot product of two float array columns, accumulated in float64
    in element order (deterministic, matches DuckDB's list fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine of two float arrays; NULL when either norm is zero.

    The zero-norm guard is load-bearing twice over: under ANSI mode
    (Spark 4 default) a bare division would THROW DIVIDE_BY_ZERO —
    one degenerate embedding killing a 100 TB job — and DuckDB's
    float division by zero yields NULL, so NULL is also the
    cross-engine-agreeing value. try_divide is the non-throwing
    division with exactly that semantic."""
    return F.try_divide(dot_product(a, b), l2_norm(a) * l2_norm(b))


def centroids(vectors: DataFrame, key: str) -> DataFrame:
    """Per-``key`` centroids of the ``embedding`` arrays, as ``(key, cv)``.

    Each element is summed through DECIMAL(18,7), so the order in which
    partitions fold the rows cannot move a bit, then divided by the
    count and rounded to 6 places; ``cv`` is reassembled in 1-based
    element order. Every DuckDB centroid oracle encodes this same rule."""
    elems = vectors.select(key, F.posexplode("embedding").alias("pos0", "v")).select(
        key, (F.col("pos0") + 1).alias("pos"), "v"
    )
    cent_elems = elems.groupBy(key, "pos").agg(
        F.round(
            F.sum(F.col("v").cast("double").cast("decimal(18,7)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("c")
    )
    return cent_elems.groupBy(key).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda x: x["c"]
        ).alias("cv")
    )


def array_sum(a: Column) -> Column:
    """Element sum in float64, in array order."""
    return F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double"))
