#!/usr/bin/env python
"""Driver-contract sweep: run EVERY registered query on Spark and its
DuckDB oracle side by side, compare them exactly through
``tools.oracle.compare`` (the same check tier-1's test_parity uses),
and report failures. This is the one-command local replica of the
driver's correctness gate.

    python tools/sweep.py                 # sf0.01 (the driver's gate scale)
    python tools/sweep.py --sf 0.1        # 10x stress sweep
    python tools/sweep.py --only a,b,c    # subset
    python tools/sweep.py --degenerate    # pathological fixture
                                          # (tools/degenerate_probe.py)
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from tools.oracle import compare, oracle_con  # noqa: E402


def _sweep_stale_duckdb_spill() -> None:
    """DuckDB in-memory connections spill large oracle intermediates
    to ``<cwd>/.tmp/duckdb_temp_storage-*.tmp`` and clean up on close
    — but a killed/timed-out run leaks them (observed r10: 58 GB of
    orphans after interrupted sf0.1/sf1 sweeps). Any such file not
    touched for an hour belongs to no live run; remove it. The glob
    is anchored to the REPO root (where sweep runs spill), not the
    CWD, so invoking sweep.py from elsewhere still reaps — and never
    touches an unrelated project's .tmp."""
    import glob
    import time

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for p in glob.glob(os.path.join(repo, ".tmp", "duckdb_temp_storage-*.tmp")):
        try:
            if time.time() - os.path.getmtime(p) > 3600:
                os.remove(p)
        except OSError:
            pass


def main() -> int:
    _sweep_stale_duckdb_spill()
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="0.01")
    ap.add_argument("--only", default=None, help="comma-separated query names")
    ap.add_argument("--root", default="/root/testdata")
    ap.add_argument(
        "--degenerate",
        action="store_true",
        help="sweep the staged degenerate fixture (empty joins, zero "
        "denominators, ties, NULL payloads, zero-norm vectors: "
        "tools/degenerate_probe.py) instead of --root/--sf; the "
        "staged directory is removed afterwards",
    )
    ap.add_argument(
        "--partitions",
        default="8",
        help="spark.sql.shuffle.partitions — run the sweep at a prime "
        "like 17 as a DETERMINISM check: a query whose result depends "
        "on partitioning/ordering accidents diverges from the oracle "
        "only under a partition count it was never tuned on",
    )
    ap.add_argument(
        "--max-partition-bytes",
        default=None,
        help="spark.sql.files.maxPartitionBytes — set small (e.g. 1m) "
        "as the SECOND determinism axis: multi-split scans change "
        "source row order, catching order-dependent folds (first/last "
        "without an ordering, order-sensitive aggregates) that a "
        "shuffle-partition sweep cannot see",
    )
    ap.add_argument(
        "--duckdb-mem",
        default=os.environ.get("SPARK_GRAFT_DUCKDB_MEM"),
        help="DuckDB memory_limit (e.g. '64GB'). Default: DuckDB's own "
        "default (80%% of RAM). At decade SFs set a cap WELL under "
        "available RAM: an oracle whose operator state cannot spill "
        "otherwise grows until the KERNEL OOM-kills the whole sweep "
        "(observed r15: the sf3 full-registry sweep died at ~111 GB "
        "anon RSS, zero engine failures at the time of death) — "
        "capped, that one oracle raises OutOfMemoryException and is "
        "reported as oracle-resource-bound instead of killing the run.",
    )
    ap.add_argument(
        "--duckdb-temp",
        default=os.environ.get("SPARK_GRAFT_DUCKDB_TEMP"),
        help="DuckDB max_temp_directory_size (e.g. '40GB') — the DISK "
        "twin of --duckdb-mem. A memory-capped oracle spills to "
        ".tmp/duckdb_temp_* instead, and at decade SFs a quadratic "
        "oracle can spill until the DEVICE fills (observed r15: the "
        "ann_recall_at_k oracle at sf3 ate the 79 GB root disk and "
        "died on 'No space left on device', with Spark shuffle spills "
        "on the same device as collateral). Capped, the oracle raises "
        "and is reported as oracle-resource-bound while the disk "
        "stays usable for the engine arm.",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    # Driver-gate session shape (local[4], pinnable shuffle width) —
    # but with an explicit driver heap: the PySpark default is 1g,
    # which the r11 sf1 streaming sweep OOMed (1M-row dedup/session/
    # join state + memory sinks in the single local JVM). Heap size
    # never changes query semantics, so raising it keeps gate
    # fidelity; stress sweeps at 10x fixtures set the env vars.
    cores = os.environ.get("SPARK_GRAFT_SWEEP_CPUS", "4")
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", args.partitions)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
    )
    if args.max_partition_bytes:
        builder = builder.config(
            "spark.sql.files.maxPartitionBytes", args.max_partition_bytes
        )
    spark = builder.getOrCreate()
    if args.degenerate:
        from tools.degenerate_probe import stage

        sf_dir, label = stage(spark), "degenerate"
    else:
        sf_dir, label = f"{args.root}/sf{args.sf}", f"sf{args.sf}"
    try:
        return _sweep(spark, sf_dir, label, args)
    finally:
        if args.degenerate:
            shutil.rmtree(sf_dir, ignore_errors=True)


def _sweep(spark, sf_dir: str, label: str, args) -> int:
    from gostream_spark import registry

    qs, oracles = registry.queries(), registry.oracle_sql()
    if args.only:
        keep = set(args.only.split(","))
        qs = {n: f for n, f in qs.items() if n in keep}

    # Decade fixtures (restage_decade.py manifests): the manifest's
    # query literals for the salted corpus (bm25/tfidf/heavy hitters),
    # and scoping of the three quadratic ground-truth evaluators so
    # the one-box oracle stays inside its resource caps while the
    # engine arm runs the full input (VERDICT r15 #2) — see
    # tools/decade_scope.py. Empty on plain fixtures: the driver-gate
    # sweep is unaffected.
    from tools.decade_scope import scoped_overrides

    overrides = scoped_overrides(sf_dir)
    for n, (kw, _) in sorted(overrides.items()):
        if n in qs:
            print(
                f"DECADE-SCOPED {n}: "
                + (
                    f"kwargs {sorted(kw)} in both arms"
                    if kw
                    else "oracle restricted to replica 0 (exact by the "
                    "replication invariant); engine arm unscoped"
                )
            )

    con = oracle_con(sf_dir)
    if args.duckdb_mem:
        con.execute(f"SET memory_limit='{args.duckdb_mem}'")
    if args.duckdb_temp:
        con.execute(
            f"SET max_temp_directory_size='{args.duckdb_temp}'"
        )

    # vacuous: exact checks where engine and oracle both return no
    # rows at this SF — they pass whatever the engine computes.
    bad, oracle_oom, vacuous, n_exact = [], [], [], 0
    for name, fn in qs.items():
        try:
            kw, scoped_sql = overrides.get(name, ({}, None))
            sdf = fn(spark, sf_dir, **kw)
            try:
                # compare() materializes the Spark side before it runs
                # the oracle, so a resource-bound oracle below always
                # follows an engine result that computed fine.
                n = compare(sdf, scoped_sql or oracles[name], con)
            except AssertionError as e:
                n = None
                bad.append(name)
                print(f"FAIL {name}: {e}")
            except duckdb.OutOfMemoryException:
                # The ORACLE, not the engine, is resource-bound at
                # this SF: the Spark result computed fine but has
                # nothing to compare against. Distinct category and
                # distinct exit code — NOT silently dropped, NOT
                # conflated with an engine failure.
                oracle_oom.append(name)
                print(
                    f"ORACLE-OOM {name}: oracle exceeded the DuckDB "
                    f"memory cap ({args.duckdb_mem}) — engine result "
                    "uncompared at this SF"
                )
                continue
            except duckdb.IOException as e:
                # Disk twin of the memory cap (r15: the sf3
                # ann_recall_at_k / graph_triangle_count oracles
                # spilled .tmp/duckdb_temp_* until the device filled).
                # Only the ENOSPC spill-exhaustion signature is
                # resource-bound; any other IO error (missing fixture,
                # corrupt parquet) stays a failure. Note (ADVICE r15):
                # hitting the max_temp_directory_size cap itself
                # surfaces as OutOfMemoryException ("failed to offload
                # data block..."), caught by the handler above — there
                # is no IOException substring for it.
                if "No space left" not in str(e):
                    raise
                oracle_oom.append(name)
                print(
                    f"ORACLE-DISK {name}: oracle spill exhausted temp "
                    f"disk (cap {args.duckdb_temp or 'none'}) — engine "
                    "result uncompared at this SF"
                )
                continue
            n_exact += 1
            if n == 0:
                vacuous.append(name)
        except Exception as e:  # surface, keep sweeping
            bad.append(f"{name} ({type(e).__name__})")
            print(f"ERROR {name}: {e}")
    con.close()
    oom_note = (
        f", oracle-resource-bound (uncompared): {oracle_oom}"
        if oracle_oom
        else ""
    )
    print(
        f"sweep {label}: {n_exact} exact-checked ({len(vacuous)} both "
        f"empty: {sorted(vacuous)}), FAILURES: {bad or 'none'}{oom_note}"
    )
    return 1 if bad else (2 if oracle_oom else 0)


if __name__ == "__main__":
    raise SystemExit(main())
