"""Scale-safe descending prefix sums (the Pareto/ABC primitive).

A cumulative sum over a GLOBAL ordering is the textbook scale-killer:
``Window.orderBy(...)`` with no partition spec funnels the whole input
through one task. ``bucketed_prefix_sum`` computes the identical
result in two distributed passes:

1. Sketch the value distribution (``percentile_approx``) into at most
   ``n_buckets`` cut points; assign every row a bucket ROW-LOCALLY as
   the count of cuts strictly above its value. Equal values always
   share a bucket, so concatenating buckets in id order reproduces the
   exact descending sort order across buckets.
2. Turn per-bucket subtotals into exclusive prefix offsets with a
   ≤ n_buckets² broadcast self-join, then add the within-bucket exact
   prefix from a bucket-PARTITIONED cumulative window.

``offset + within`` is bit-identical to the single global window no
matter where the sketch placed the cuts (the sketch only balances
work; correctness never depends on it). The largest single sort is
N / n_buckets rows; raise ``n_buckets`` as the data grows, not the
algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def bucketed_prefix_sum(
    df: DataFrame,
    value_col: str,
    tiebreak_cols: list[str],
    out_col: str = "cum",
    n_buckets: int = 256,
) -> DataFrame:
    """Add ``out_col`` = running sum of ``value_col`` over the exact
    global ordering (``value_col`` DESC, then ``tiebreak_cols`` ASC)
    without any unpartitioned window. ``value_col`` must be an exact
    (integer/decimal) type — the point of the primitive is boundary
    arithmetic that two engines agree on."""
    n_buckets = max(2, n_buckets)  # 1 bucket => empty percentile list
    qs = [i / n_buckets for i in range(1, n_buckets)]
    dist = df.agg(F.percentile_approx(value_col, qs, 10_000).alias("_cuts"))
    bucketed = df.crossJoin(F.broadcast(dist)).withColumn(
        "_bucket",
        F.size(F.filter("_cuts", lambda c: c > F.col(value_col))),
    ).drop("_cuts")

    bstats = bucketed.groupBy("_bucket").agg(
        F.sum(value_col).alias("_bucket_sum")
    )
    offsets = (
        bstats.alias("a")
        .join(
            F.broadcast(
                bstats.select(
                    F.col("_bucket").alias("_b2"),
                    F.col("_bucket_sum").alias("_s2"),
                )
            ),
            F.col("_b2") < F.col("_bucket"),
            "left",
        )
        .groupBy("_bucket")
        .agg(F.coalesce(F.sum("_s2"), F.lit(0)).alias("_offset"))
    )

    w_in = (
        Window.partitionBy("_bucket")
        .orderBy(F.col(value_col).desc(), *tiebreak_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        bucketed.join(F.broadcast(offsets), "_bucket")
        .withColumn(out_col, F.col("_offset") + F.sum(value_col).over(w_in))
        .drop("_bucket", "_offset")
    )
