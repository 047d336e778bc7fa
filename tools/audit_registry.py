#!/usr/bin/env python
"""Registry-wide physical-plan audit: build every lazily-constructed
query's executed plan and flag scale-killers — cartesian products,
unpartitioned (global) windows, row-at-a-time Python evals, and
sort-merge joins where a tiny side should broadcast.

Queries whose construction EXECUTES work (streaming harnesses, BSP
iterations, sink round-trips) are skipped by name prefix/list — their
shapes are covered by dedicated scenario tests instead.

    python tools/audit_registry.py            # prints findings; exit 1 if any
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# construction executes (streams run, BSP iterates, sinks write):
EXECUTING_PREFIXES = ("streaming_", "pysink_", "pysource_")
EXECUTING_NAMES = {
    "neardup_cluster_components",
    "neardup_pagerank_centrality",
    "kmeans_refined_clusters",
    "csv_source_agg",
    "jsonl_source_agg",
    "orc_source_agg",
    "partitioned_sink_pruned_read",
    "zorder_cluster_key",
}

# sanctioned cartesian/global-window shapes (1-row or dim-sized sides,
# k-survivor windows — each justified in its query docstring):
CARTESIAN_OK = {
    "join_cross",  # 5x25 dims
}

# Expensive expressions inside Filter operators — the r10 finding:
# Catalyst infers constraints (isnotnull, size>0) from joins and
# generators, alias-substitutes the COLUMN DEFINITION into them, and
# pushes the result toward the scan — re-evaluating per-token digest
# pipelines or whole sketch folds a second time (serially, when below
# a spread_for_compute exchange). Fix patterns used in the tree:
# explode_outer + generator-output null filter, non-nullable columns
# via dead-arm coalesce, cheap has_key booleans. The tokens below are
# the repo's expensive-kernel fingerprints.
EXPENSIVE_IN_FILTER = (
    "md5(",
    "sha2(",
    "xxhash64(",
    "zip_with(",
    "regexp_extract_all(",  # also regexp_count and trigram_shingles
    "aggregate(",
    "array_sort(",
    "sort_array(",
    "unhex(",
)
# Single-eval-by-construction exceptions (the expression IS the
# filter's job, evaluated once per row, never duplicated upstream):
EXPENSIVE_FILTER_OK = {
    "sample_stratified",  # md5 IS the deterministic Bernoulli draw
    "training_mix_pipeline",  # quality-gate HOF deliberately fused into the scan filter
    "cross_corpus_dedup",  # one extra md5 per DOC (not per token) — negligible vs its joins
    "cross_source_duplication_matrix",  # same: per-doc md5, null-text semantics pinned by degenerate tests
}
# nested-loop joins with a literal 1-row / broadcast side are fine;
# we flag only CartesianProduct (both sides unbounded).


def main() -> int:
    from pyspark.sql import SparkSession

    from gostream_spark import registry

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    findings: list[str] = []
    n_scanned = 0
    for name, q in sorted(registry.all_queries().items()):
        if name.startswith(EXECUTING_PREFIXES) or name in EXECUTING_NAMES:
            continue
        df = q.fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        n_scanned += 1
        if "CartesianProduct" in plan and name not in CARTESIAN_OK:
            findings.append(f"{name}: CartesianProduct")
        for line in plan.splitlines():
            # Window prints `[exprs], [partition], [order]`; empty
            # groups are elided, so: 3 groups = partitioned+ordered,
            # 2 groups without sort markers = partition-only (fine),
            # 2 groups WITH ASC/DESC in the tail = ORDER-ONLY global
            # window (the single-task sort we ban).
            if "Window [" not in line:
                continue
            groups = line.count("], [")
            tail = line.rsplit("], [", 1)[-1] if groups else ""
            if groups < 1 or (
                groups == 1 and ("ASC" in tail or "DESC" in tail)
            ):
                findings.append(f"{name}: global window: {line.strip()[:100]}")
        if "BatchEvalPython" in plan:
            findings.append(f"{name}: row-at-a-time BatchEvalPython")
        if name not in EXPENSIVE_FILTER_OK:
            for line in plan.splitlines():
                s = line.strip().lstrip("*+:- (0123456789)")
                if s.startswith("Filter") and any(
                    t in s for t in EXPENSIVE_IN_FILTER
                ):
                    findings.append(
                        f"{name}: expensive expr re-evaluated in Filter: "
                        f"{s[:100]}"
                    )
                    break
    print(f"scanned {n_scanned} query plans at {SF_DIR}")
    for f in findings:
        print("FLAG", f)
    print(f"findings: {len(findings)}")
    return 1 if findings else 0


if __name__ == "__main__":
    sys.exit(main())
