#!/usr/bin/env python
"""Streaming-state decade step (VERDICT r10 #1): measure per-micro-
batch state-commit cost vs state ROWS for the stateful-streaming
family at 1x (sf0.1, 100k events) vs 10x (restaged "sf1", 1M events,
disjoint state keys, time-shifted replicas). Run
tools/restage_decade.py first, then:

    python tools/streaming_decade_probe.py           # step + curve
    python tools/streaming_decade_probe.py --only streaming_dedup
    python tools/streaming_decade_probe.py --no-curve

Two outputs, both markdown rows for PERF.md:

- STEP table: each registered query run unmodified at both scales
  (availableNow drains each fixture in one or a few micro-batches);
  columns decompose the wall clock into addBatch and state-commit
  time and record final state rows, from the runner's
  RECENT_PROGRESS capture (StreamingQueryProgress.stateOperators).
  A state-linear operator shows commit time ~ state rows; addBatch
  ~ input rows.

- CURVE table (sf1 only): the same pipelines replayed ONE replica
  file per micro-batch (max_files_per_trigger=1), so state
  accumulates 100k keys per batch across 10 batches — per-batch
  (input rows, state rows total, rows updated, update ms, commit ms)
  is the direct "does state-commit cost grow with state rows?"
  reading the 1-batch step table cannot give. The restaged fixture's
  per-replica time shift makes event time monotone across batches,
  so watermarks advance and nothing is late-dropped (see
  restage_decade.py).

Timing protocol follows tools/time_queries.py: one untimed session
warm-up pass at sf0.01 (Python-worker/JIT startup charged to the
throwaway), then per-(query, sf) a single timed run — streaming
queries re-execute their whole pipeline per call (fresh checkpoint),
so warm-vs-cold matters less than for batch plans, and the per-batch
progress metrics (the point of this probe) are wall-clock-noise-free
JVM measurements either way.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gostream_spark.registry import all_queries  # noqa: E402
from gostream_spark.session import get_spark  # noqa: E402
from gostream_spark.streaming import runner  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(REPO, ".tmp", "decadedata", "sf1")

# The stateful-streaming family with a real state store: tumbling and
# sliding windows (T1, T2), dedup and dedup within the watermark (T5),
# applyInPandasWithState (T6), session windows (T3) and the
# stream-stream join (J10). All seven take the max_files_per_trigger
# replay knob and run at the runner's STATE_PARTITIONS.
PROBE_QUERIES = [
    "streaming_tumbling_counts",
    "streaming_sliding_counts",
    "streaming_dedup",
    "streaming_dedup_within_watermark",
    "streaming_stateful_counts",
    "streaming_session_counts",
    "streaming_stream_stream_join",
]


def _drain_progress() -> list[dict]:
    """Snapshot and clear the runner's per-process progress capture."""
    out = list(runner.RECENT_PROGRESS)
    runner.RECENT_PROGRESS.clear()
    return out


def _batch_metrics(streams: list[dict]) -> list[dict]:
    """Flatten captured streams to per-batch rows (a query run may
    start several streaming queries; in this family each starts one).
    Zero-input finalization batches (availableNow's no-data commit
    rounds) are kept — their commit cost is part of the story."""
    rows = []
    for s in streams:
        for b in s["batches"]:
            ops = b.get("stateOperators") or []
            rows.append(
                {
                    "batch": b["batchId"],
                    "input_rows": b.get("numInputRows", 0),
                    "add_batch_ms": (b.get("durationMs") or {}).get(
                        "addBatch", 0
                    ),
                    "state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
                    "rows_updated": sum(
                        o.get("numRowsUpdated", 0) for o in ops
                    ),
                    "update_ms": sum(
                        o.get("allUpdatesTimeMs", 0) for o in ops
                    ),
                    "commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
                    "state_bytes": sum(
                        o.get("memoryUsedBytes", 0) for o in ops
                    ),
                }
            )
    return rows


def _summarize(batches: list[dict]) -> dict:
    return {
        "n_batches": len(batches),
        "input_rows": sum(b["input_rows"] for b in batches),
        "add_batch_ms": sum(b["add_batch_ms"] for b in batches),
        "update_ms": sum(b["update_ms"] for b in batches),
        "commit_ms": sum(b["commit_ms"] for b in batches),
        "state_rows": max((b["state_rows"] for b in batches), default=0),
        "state_bytes": max((b["state_bytes"] for b in batches), default=0),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--only", default=None)
    ap.add_argument("--sf1-dir", default=SF1)
    ap.add_argument("--no-curve", action="store_true")
    opts = ap.parse_args()
    if not os.path.isdir(opts.sf1_dir):
        raise SystemExit(
            f"{opts.sf1_dir} missing - run tools/restage_decade.py first"
        )
    names = (
        [n.strip() for n in opts.only.split(",") if n.strip()]
        if opts.only
        else PROBE_QUERIES
    )
    qs = all_queries()
    missing = [n for n in names if n not in qs]
    if missing:
        raise SystemExit(f"not registered: {missing}")
    spark = get_spark(app_name="streaming_decade_probe")
    spark.sparkContext.setLogLevel("ERROR")

    for n in names:  # session warm-up (throwaway, smallest input)
        qs[n].fn(spark, "/root/testdata/sf0.01").count()
    _drain_progress()

    print("### step: 1x vs 10x, unmodified replay (all files per batch)")
    print(
        "| Query | sf | wall | batches | input rows | addBatch ms "
        "| update ms | commit ms | state rows | state MiB | B/row |"
    )
    print("|---|---|---|---|---|---|---|---|---|---|---|")
    for n in names:
        for label, sf_dir in (("sf0.1", SF01), ("sf1", opts.sf1_dir)):
            _drain_progress()
            t0 = time.perf_counter()
            qs[n].fn(spark, sf_dir).count()
            wall = time.perf_counter() - t0
            s = _summarize(_batch_metrics(_drain_progress()))
            bpr = (
                s["state_bytes"] / s["state_rows"] if s["state_rows"] else 0
            )
            print(
                f"| `{n}` | {label} | {wall:.2f}s | {s['n_batches']} "
                f"| {s['input_rows']} | {s['add_batch_ms']} "
                f"| {s['update_ms']} | {s['commit_ms']} "
                f"| {s['state_rows']} "
                f"| {s['state_bytes'] / 1048576:.1f} | {bpr:.0f} |"
            )

    if opts.no_curve:
        return
    print()
    print("### curve: sf1, one replica file per micro-batch")
    for n in names:
        _drain_progress()
        t0 = time.perf_counter()
        qs[n].fn(spark, opts.sf1_dir, max_files_per_trigger=1).count()
        wall = time.perf_counter() - t0
        batches = _batch_metrics(_drain_progress())
        print(f"\n`{n}` (wall {wall:.2f}s)")
        print(
            "| batch | input rows | addBatch ms | rows updated "
            "| update ms | commit ms | state rows |"
        )
        print("|---|---|---|---|---|---|---|")
        for b in batches:
            print(
                f"| {b['batch']} | {b['input_rows']} | {b['add_batch_ms']} "
                f"| {b['rows_updated']} | {b['update_ms']} "
                f"| {b['commit_ms']} | {b['state_rows']} |"
            )


if __name__ == "__main__":
    main()
