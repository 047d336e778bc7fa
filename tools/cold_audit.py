#!/usr/bin/env python
"""Per-query COLD cost at sf0.01 — the driver's correctness gate runs
a 50-query sample in one session, each query ONCE, so what matters
for staying green-and-fast under ANY future sample is every query's
first-run cost in a warm session (VERDICT r9 #4: the r9 sample left
all streaming rows driver-unsampled; keep their cold cost low enough
that any sample stays cheap).

    python tools/cold_audit.py                  # all queries, markdown table of slowest
    python tools/cold_audit.py --threshold 3    # list queries over 3s
    python tools/cold_audit.py --only streaming # name-substring filter

Protocol: one generic warm job (JVM up), then every query once,
chronological, timing the first (only) run. Session-level JIT means
EARLY queries absorb codegen warm-up exactly like the driver's run —
so this over-reports the first few names a little; rerun with
--shuffle-seed to rotate order if a reading looks order-charged.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gostream_spark.registry import all_queries  # noqa: E402
from gostream_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--threshold", type=float, default=3.0)
    ap.add_argument("--only", default=None, help="name-substring filter")
    ap.add_argument(
        "--shuffle-seed",
        type=int,
        default=None,
        help="seed a true random permutation of run order (order-charge check)",
    )
    opts = ap.parse_args()
    # Window probes (r14): the audit's totals swing ~1.2x with the
    # I/O window (201.9 s idle vs 237.0 s at io_probe 151 ms, same
    # tree, same session protocol) — record the same start/end pair
    # bench.py records so the durable record self-documents its
    # window and io_contamination() can adjudicate it. The start edge
    # is min-of-3 with settle-before-start as of r15 (same protocol
    # bench.py adopted per VERDICT r14 #1; the end edge keeps its own
    # sync + min-of-two-3s-apart protocol, which handles the audit's
    # self-inflicted flush tail rather than ambient spikes).
    from tools.io_probe import _io_probe_ms, _load_sentinel_ms, io_probe_edge

    sentinel_ms = _load_sentinel_ms()
    io_start_edge = io_probe_edge(samples=3, settle_timeout_s=60.0)
    io_start = io_start_edge["ms"]
    spark = get_spark(app_name="cold_audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    names = sorted(qs)
    if opts.only:
        names = [n for n in names if opts.only in n]
    if opts.shuffle_seed is not None:
        import random

        random.Random(opts.shuffle_seed).shuffle(names)
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm
    # Python executor-worker pool warm (r11, VERDICT r10 #3): the
    # first Python-touching query otherwise absorbs daemon/worker
    # startup (~1.4 s measured) that is SESSION cost, same as the JVM
    # JIT above — any real deployment pays it once at startup, not
    # per query.
    spark.range(64).repartition(4).mapInPandas(
        lambda it: it, schema="id long"
    ).count()
    # Python-DataSource worker-MODULE pool warm (r12): Spark 4.1 runs
    # each DataSource phase in its own worker module
    # (create/plan-read/source-runner/sink-runner/write), each with
    # its own interpreter pool, reused per module after first use —
    # measured 8.9 s first stream vs 3.65 s second identical stream in
    # one session (addBatch 4.5 s -> 1.25 s). Like the daemon warm
    # above, pool startup is SESSION cost: a deployment pays it once
    # per executor lifetime, not per stream. Warm with a micro
    # roundtrip so the audited python-stream queries report their
    # per-stream marginal cost.
    import shutil
    import tempfile

    from gostream_spark.pysource import SCHEMA, ensure_registered
    from gostream_spark.streaming.runner import _run_stream

    ensure_registered(spark)
    spark.read.format("gostream_synth").schema(SCHEMA).option(
        "rows", 16
    ).load().count()
    _wout = tempfile.mkdtemp(prefix="gs-cold-warm-")
    # A failed warm-up (ADVICE r12) is reported, not fatal: it would
    # otherwise skew every audited timing this warm-up exists to clean
    # up without a word.
    try:
        _run_stream(
            spark.readStream.format("gostream_synth")
            .schema(SCHEMA)
            .option("rows", 16)
            .option("batch", 16)
            .load(),
            lambda w: w.format("gostream_jsonl").option("path", _wout),
            until=lambda: any(f.startswith("_batch") for f in os.listdir(_wout)),
            timeout_sec=60,
            poll_sec=0.05,
        )
    except Exception as e:  # noqa: BLE001
        print(
            "cold_audit WARNING: warm-up stream did not commit a batch: "
            f"{type(e).__name__}: {e}",
            file=sys.stderr,
        )
    finally:
        shutil.rmtree(_wout, ignore_errors=True)
    times: dict[str, float] = {}
    for n in names:
        t0 = time.perf_counter()
        qs[n].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        times[n] = time.perf_counter() - t0
    summary = cold_summary(times, opts.threshold)
    print(
        f"cold audit sf0.01: {summary['n']} queries, total "
        f"{summary['total_s']}s, mean {summary['mean_s']}s, "
        f"over {opts.threshold}s: {len(summary['over'])}"
    )
    print()
    print(f"| Query | cold sf0.01 |")
    print("|---|---|")
    for n, t in sorted(times.items(), key=lambda kv: -kv[1])[:20]:
        flag = " **> threshold**" if t > opts.threshold else ""
        print(f"| `{n}` | {t:.2f}s{flag} |")
    # Durable record (r14, the cold-start-watch counterpart of
    # bench_out/): full-audit runs land in cold_out/cold_latest.json
    # with the prior record archived content-addressed, so the
    # over-3 s cohort's round-over-round drift is comparable
    # mechanically instead of via PERF.md prose. Filtered/partial runs
    # (--only) stay stdout-only — they are probes, not the watch.
    if not opts.only:
        summary["sentinel_ms"] = sentinel_ms
        # Flush the audit's OWN writeback backlog (311 queries of
        # shuffle/scratch/checkpoint dirty pages — bench's 38-query
        # end probe doesn't accumulate enough to matter), then take
        # the end reading as the MIN of two samples 3 s apart: the
        # first sample still contends with the tail of the flush,
        # and a single elevated sample would mis-flag self-inflicted
        # transients as ambient load. Sustained ambient load stays
        # elevated across both samples and still flags.
        try:
            os.sync()
        except (AttributeError, OSError):
            pass
        first = _io_probe_ms()
        time.sleep(3)
        second = _io_probe_ms()
        io_end = min(x for x in (first, second) if x is not None) if (
            first is not None or second is not None
        ) else None
        summary["io_probe_ms"] = {
            "start": io_start,
            "end": io_end,
            "start_samples": io_start_edge["samples"],
            "end_samples": [x for x in (first, second) if x is not None],
        }
        if "settle_rounds" in io_start_edge:
            summary["io_probe_ms"]["start_settle_rounds"] = io_start_edge[
                "settle_rounds"
            ]
        try:
            from compare_bench import io_contamination

            reason = io_contamination(summary["io_probe_ms"])
            if reason:
                summary["io_contaminated"] = reason
        except Exception:  # noqa: BLE001 — annotation never fails a run
            pass
        _write_record(summary, opts)


def cold_summary(times: dict[str, float], threshold: float) -> dict:
    """Pure summary of one audit's readings (unit-testable)."""
    total = sum(times.values())
    return {
        "metric": "cold_first_run_wall_clock",
        "unit": "sec",
        "sf": 0.01,
        "n": len(times),
        "total_s": round(total, 1),
        "mean_s": round(total / len(times), 2) if times else 0.0,
        "threshold_s": threshold,
        "over": {
            n: round(t, 2)
            for n, t in sorted(times.items(), key=lambda kv: -kv[1])
            if t > threshold
        },
        "queries": {n: round(t, 3) for n, t in times.items()},
    }


def _write_record(summary: dict, opts) -> None:
    import json

    from tools.io_probe import _archive_existing

    summary["order"] = (
        f"shuffle_seed={opts.shuffle_seed}"
        if opts.shuffle_seed is not None
        else "chronological"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = os.path.join(repo, "cold_out")
    latest = os.path.join(out_dir, "cold_latest.json")
    os.makedirs(out_dir, exist_ok=True)
    _archive_existing(out_dir, latest)
    with open(latest, "w") as f:
        json.dump(summary, f, indent=2, sort_keys=True)
        f.write("\n")
    print(f"\nfull record: cold_out/cold_latest.json")


if __name__ == "__main__":
    main()
