#!/usr/bin/env python
"""Diagnose neardup_prefix_filter_pairs' scale step (VERDICT r8 #3).

For each sf dir, recomputes the operator's intermediate cardinalities:
  n_docs      documents with >= 1 shingle (join input rows)
  sum_prefix  total prefix tokens emitted (the join's left/right size)
  p50/p95/max prefix length distribution
  cand_raw    prefix-x-prefix join matches BEFORE distinct
  cand        distinct candidate pairs entering verification
  pairs       verified output pairs (Jaccard >= 0.6)
One line of JSON per sf — paste into PERF.md. If cand grows much
faster than pairs across the sf step, candidate generation (prefix
join fan-out) drives the step and a suffix filter / length bucketing
is warranted; if cand ~ pairs, the step is output-bound and the plan
is already minimal.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from gostream_spark.functions.sketches import trigram_shingles
from gostream_spark.io import load_table
from gostream_spark.operators.prefix_join import (
    candidate_pairs,
    prefix_filtered_jaccard_pairs,
    prefix_rows,
)
from gostream_spark.session import get_spark

T_NUM, T_DEN = 3, 5


def _g(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    n_t = F.size(F.split("text", " "))
    shingles = F.array_distinct(trigram_shingles(F.col("text")))
    return docs.filter(n_t >= 3).select(
        "doc_id",
        shingles.alias("sh"),
        F.coalesce(F.size(shingles), F.lit(0)).cast("long").alias("n"),
    )


def stats_for(spark, sf_dir: str) -> dict:
    g = _g(spark, sf_dir).cache()
    prefix = prefix_rows(g, T_NUM, T_DEN).cache()
    plen = prefix.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("plen"),
        F.sum(F.col("in_idx").cast("long")).alias("ilen"),
    )
    dist = plen.agg(
        F.sum("plen").alias("sum_prefix"),
        F.sum("ilen").alias("sum_idx_prefix"),
        F.expr("percentile_approx(plen, 0.5)").alias("p50"),
        F.expr("percentile_approx(plen, 0.95)").alias("p95"),
        F.max("plen").alias("pmax"),
    ).collect()[0]
    raw = candidate_pairs(g, T_NUM, T_DEN)
    cand_raw = raw.count()
    cand = raw.distinct().count()
    t0 = time.perf_counter()
    pairs = prefix_filtered_jaccard_pairs(g, T_NUM, T_DEN).count()
    op_sec = round(time.perf_counter() - t0, 3)
    n_docs = g.count()
    g.unpersist()
    prefix.unpersist()
    return {
        "sf_dir": sf_dir,
        "n_docs": n_docs,
        "sum_prefix": dist["sum_prefix"],
        "sum_idx_prefix": dist["sum_idx_prefix"],
        "prefix_p50": dist["p50"],
        "prefix_p95": dist["p95"],
        "prefix_max": dist["pmax"],
        "cand_raw": cand_raw,
        "cand": cand,
        "pairs": pairs,
        "op_sec_cached_input": op_sec,
    }


def main() -> None:
    spark = get_spark(app_name="prefix_join_stats")
    dirs = sys.argv[1:] or [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ]
    for d in dirs:
        print(json.dumps(stats_for(spark, d)))


if __name__ == "__main__":
    main()
