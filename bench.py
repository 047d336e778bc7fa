#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}
followed by a truncation-proof summary line that ALSO carries the
per-query seconds (VERDICT r16 #1 — the driver's 2000-char stdout
tail cut the full line before its "queries" key, emptying the
driver-side per-query PERF/scaling tables; the summary is sized to
fit the tail, with a length guard that drops the dict if the query
set ever outgrows the budget); the complete
payload is also written to bench_out/bench_latest.json (committed) so
the durable per-query record never depends on the driver's stdout
tail window. Any pre-existing bench_latest.json is first archived to
bench_out/history/<content-sha>.json so a driver-invoked run can
never shadow the builder's committed record (or vice versa).

Each query is executed with a count-style action that materializes
every row (``df.toLocalIterator`` would serialize; ``write.format
("noop")`` is the standard no-overhead sink for benchmarking).

Instrumentation riding in the durable record (not the stdout line):
- per-query trial list (all timed runs, chronological) so a FLAG row
  in cross-round comparison carries its own spread instead of a
  narrative about variance;
- a per-query CPU probe (xorshift loop) and a session-level CPU
  sentinel, as before;
- an IO-touch probe (timed read of a fixed 64 MiB scratch file with
  the page cache dropped via posix_fadvise(DONTNEED)) at session
  start and end — the CPU probe is blind to disk/page-cache
  contention, which is exactly the load class the r8 cross-round
  deltas could not rule out;
- a full-width memory-bandwidth probe (one stream-summing fork per
  CPU, median worker ms) at both session edges (r17, VERDICT r16 #7)
  — the r16 degraded windows were host memory-path contention that
  both probes above read as NORMAL;
- for streaming queries, the micro-batch StreamingQueryProgress
  breakdown per timed trial (triggerExecution / addBatch / state
  commit ms, input rows, batch count) plus the full per-batch
  durationMs dicts for the final trial — so a slow streaming reading
  is attributable to planning vs state commit vs sink work from the
  archived record alone.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gostream_spark.registry import all_queries  # noqa: E402
from gostream_spark.session import get_spark  # noqa: E402

# Probe/sentinel/archive helpers live in tools/io_probe.py (shared
# with tools/cold_audit.py — ADVICE r14 decoupling). Re-exported here
# under their historical names: the verify recipe and replay tests
# address them as bench._io_probe_ms etc.
from tools.io_probe import (  # noqa: E402,F401
    _archive_existing,
    _io_probe_ms,
    _load_sentinel_ms,
    _probe_once_ms,
    io_probe_edge,
    membw_probe_ms,
)

_REPO = os.path.dirname(os.path.abspath(__file__))

# The driver captures a bounded TAIL of stdout (~2000 chars, VERDICT
# r15/r16 forensics). The final summary line must parse from that tail
# alone, so its serialized length is guarded below this budget — with
# headroom for the tail window also catching the end of the previous
# line.
_SUMMARY_LINE_BUDGET = 1900


def build_summary_line(payload: dict) -> str:
    """The final truncation-proof stdout line (VERDICT r16 #1): the
    short summary now CARRIES the per-query seconds (38 entries ≈
    1.3 KB — fits the driver's tail window), so the driver's per-query
    PERF/scaling tables populate without bench_out/ forensics. The
    io-probe edge pair stays (it is part of the run fingerprint that
    resolves a wrapper to the durable record — tools/compare_bench) but
    the per-edge samples ride only in the full record, keeping the line
    short. If the line ever outgrows the tail budget (more queries
    added), the per-query dict is dropped from the summary rather than
    risking a mid-line truncation that parses as nothing — the full
    line above it and the durable record still carry everything."""
    io = payload.get("io_probe_ms") or {}
    summary = {
        "metric": payload["metric"],
        "value": payload["value"],
        "unit": payload["unit"],
        "queries": payload["queries"],
        "sentinel_ms": payload["sentinel_ms"],
        "io_probe_ms": {"start": io.get("start"), "end": io.get("end")},
        "sf": payload["sf"],
        "n_queries": len(payload["queries"]),
        "full_record": "bench_out/bench_latest.json",
    }
    for flag in ("io_contaminated", "membw_contaminated"):
        if flag in payload:
            summary[flag] = True  # reason in the full record
    line = json.dumps(summary)
    if len(line) > _SUMMARY_LINE_BUDGET:
        del summary["queries"]
        line = json.dumps(summary)
    return line


def _summarize_progress(captured: list[dict]) -> dict:
    """Collapse one trial's captured StreamingQueryProgress entries to
    the numbers that attribute a slow trial: total micro-batches,
    trigger/addBatch/state-commit milliseconds, input rows."""
    n_batches = trigger_ms = addbatch_ms = commit_ms = rows = 0
    for stream in captured:
        for b in stream.get("batches", []):
            n_batches += 1
            d = b.get("durationMs", {}) or {}
            trigger_ms += d.get("triggerExecution", 0)
            addbatch_ms += d.get("addBatch", 0)
            rows += b.get("numInputRows", 0)
            for op in b.get("stateOperators", []) or []:
                commit_ms += op.get("commitTimeMs", 0)
    return {
        "n_batches": n_batches,
        "trigger_ms": trigger_ms,
        "addbatch_ms": addbatch_ms,
        "state_commit_ms": commit_ms,
        "input_rows": rows,
    }


def _final_trial_batches(captured: list[dict]) -> list[dict]:
    """Full per-batch breakdown for the archived record, trimmed to
    the attribution-relevant fields (the raw progress JSON carries
    per-source/sink metadata that would bloat the committed file)."""
    out = []
    for stream in captured:
        for b in stream.get("batches", []):
            out.append(
                {
                    "batchId": b.get("batchId"),
                    "numInputRows": b.get("numInputRows"),
                    "durationMs": b.get("durationMs"),
                    "stateOperators": [
                        {
                            "operatorName": op.get("operatorName"),
                            "commitTimeMs": op.get("commitTimeMs"),
                            "numRowsTotal": op.get("numRowsTotal"),
                            "numRowsUpdated": op.get("numRowsUpdated"),
                        }
                        for op in (b.get("stateOperators") or [])
                    ],
                }
            )
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sentinel_ms = _load_sentinel_ms()
    # Session-edge io probes are min-of-3 with settle-before-start
    # (VERDICT r14 #1): a single read at either edge could false-flag
    # a clean headline on one of this box's documented one-off
    # 150-485 ms spikes — or false-clean a loaded window on one lucky
    # read. When the opening min is out of the idle band, resample for
    # up to 60 s (the spike class settles in minutes); every attempt
    # rides in the durable record.
    io_start_edge = io_probe_edge(samples=3, settle_timeout_s=60.0)
    io_probe_start = io_start_edge["ms"]
    # Full-width memory-path burn at both session edges (VERDICT r16
    # #7): the one probe class that would have flagged the r16 degraded
    # windows (1.5-1.7x on every parallel stage) in the record itself —
    # the CPU sentinel and io probe are blind to host memory-path
    # contention. Taken BEFORE the Spark session exists (and after it
    # is idle at the end), so the probe measures the host, not the JVM.
    membw_start = membw_probe_ms()
    spark = get_spark(app_name="gostream_spark_bench")

    from gostream_spark.streaming import runner as _runner

    queries = {n: q for n, q in all_queries().items() if q.bench}
    timings: dict[str, float] = {}
    trials_s: dict[str, list[float]] = {}
    streaming_progress: dict[str, dict] = {}
    queries_list = sorted(queries)
    # Warm each query's plan once (codegen + first-scan page cache) so
    # the timed runs measure steady-state execution, not JVM warm-up;
    # then report the best of three timed runs (local[n] single-JVM
    # timings are GC/scheduler-noisy; the minimum is the stable
    # estimate of the plan's cost). The full trial list rides in the
    # durable record so cross-round FLAG rows carry their own spread.
    for name in queries_list:
        queries[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    load_ms: dict[str, float] = {}
    for name in queries_list:
        load_ms[name] = _probe_once_ms()
        trial_list: list[float] = []
        trial_progress: list[dict] = []
        for _ in range(3):
            _runner.RECENT_PROGRESS.clear()
            t0 = time.perf_counter()
            queries[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            trial_list.append(round(time.perf_counter() - t0, 3))
            if _runner.RECENT_PROGRESS:
                trial_progress.append(
                    _summarize_progress(_runner.RECENT_PROGRESS)
                )
        timings[name] = min(trial_list)
        trials_s[name] = trial_list
        if trial_progress:
            streaming_progress[name] = {
                "trials": trial_progress,
                "final_trial_batches": _final_trial_batches(
                    _runner.RECENT_PROGRESS
                ),
            }
        _runner.RECENT_PROGRESS.clear()

    io_end_edge = io_probe_edge(samples=3)
    io_probe_end = io_end_edge["ms"]
    membw_end = membw_probe_ms()
    io_probe_record = {
        "start": io_probe_start,
        "end": io_probe_end,
        "start_samples": io_start_edge["samples"],
        "end_samples": io_end_edge["samples"],
    }
    if "settle_rounds" in io_start_edge:
        io_probe_record["start_settle_rounds"] = io_start_edge["settle_rounds"]
    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_queries_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "query_trials_s": trials_s,
        "sentinel_ms": sentinel_ms,
        "query_load_ms": load_ms,
        "io_probe_ms": io_probe_record,
        "membw_probe_ms": {"start": membw_start, "end": membw_end},
        "streaming_progress": streaming_progress,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # Self-annotate the session-state drift signature (r13, VERDICT
    # r12 #4): queries whose trials rise monotonically >15%
    # end-to-end are inflated by accumulated whole-session JVM state
    # (the r12 semdedup root-cause), not by their code — record them
    # in the durable payload so a cross-round reader sees the
    # contamination without needing tools/compare_bench.py.
    try:
        from tools.compare_bench import (
            io_contamination,
            membw_contamination,
            trial_drift,
        )

        drifters = sorted(q for q, ts in trials_s.items() if trial_drift(ts))
        if drifters:
            payload["trial_drift"] = drifters
        # Self-flag an I/O-contaminated headline run (VERDICT r13 #3):
        # the r13 driver session opened at io_probe 441 ms vs 44 at
        # close — the page-cache-dirt pattern BASELINE.md documents —
        # but the durable record carried no mark, unlike sentinel load
        # and trial drift. The reason string rides in the record so a
        # cross-round reader knows the raw total needs an idle rerun.
        io_reason = io_contamination(payload["io_probe_ms"])
        if io_reason:
            payload["io_contaminated"] = io_reason
        # Memory-path contention self-flag (VERDICT r16 #7): the load
        # class the sentinel and io probes cannot see; an elevated
        # membw edge marks every parallel-stage timing in this record
        # as adjudicate-against-idle-rerun.
        mb_reason = membw_contamination(payload["membw_probe_ms"])
        if mb_reason:
            payload["membw_contaminated"] = mb_reason
    except Exception:  # noqa: BLE001 — annotation must never fail a run
        pass
    # Durable full record: the driver captures a bounded TAIL of stdout,
    # and r7's single long JSON line was cut mid-dict there, losing ~11
    # queries' timings from the round archive. Write the complete
    # payload to a committed file FIRST (archiving whatever it
    # replaces), then print the full line (parsed when the tail window
    # is big enough) followed by a short self-contained summary line
    # that survives any tail truncation. The stdout line stays
    # instrumentation-free — the driver's parser contract is the
    # original shape; everything new rides only in the file.
    out_dir = os.path.join(_REPO, "bench_out")
    os.makedirs(out_dir, exist_ok=True)
    latest = os.path.join(out_dir, "bench_latest.json")
    _archive_existing(out_dir, latest)
    with open(latest, "w") as f:
        json.dump(payload, f, indent=2, sort_keys=True)
        f.write("\n")
    stdout_payload = {
        k: v
        for k, v in payload.items()
        if k
        in ("metric", "value", "unit", "queries", "sentinel_ms",
            "query_load_ms", "sf")
    }
    print(json.dumps(stdout_payload))
    print(build_summary_line(payload))


if __name__ == "__main__":
    main()
