"""Pins for bench.py's final truncation-proof stdout summary line
(VERDICT r16 #1): the driver keeps only a ~2000-char tail of stdout,
and the full bench JSON line is cut before its "queries" key on
38-query records — so the driver's per-query PERF/scaling tables came
back empty and every cross-round verdict needed bench_out/ forensics.
The summary line (the LAST line, which always survives the tail) now
carries the per-query seconds itself, with a length guard that drops
the dict rather than risk a mid-line truncation if the query set ever
outgrows the budget."""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import _SUMMARY_LINE_BUDGET, build_summary_line  # noqa: E402


def _payload(queries: dict, **extra) -> dict:
    p = {
        "metric": "headline_queries_wall_clock",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sentinel_ms": 47.0,
        "io_probe_ms": {
            "start": 31.31,
            "end": 22.16,
            "start_samples": [355.47, 48.36, 31.31],
            "end_samples": [50.95, 35.09, 22.16],
        },
        "sf": 0.1,
    }
    p.update(extra)
    return p


def test_summary_carries_per_query_seconds_for_current_bench_set():
    """With the REAL current bench query set (names from the registry,
    independent of whatever the last bench run left in bench_out/), the
    summary line must carry every per-query timing and still fit the
    driver's tail budget. The made-up 12.345 s per query is wider than
    any real sf0.1 timing, so the line is at least as long as a real
    run's."""
    from gostream_spark.registry import all_queries

    names = sorted(n for n, q in all_queries().items() if q.bench)
    assert len(names) == 38
    record = _payload({n: 12.345 for n in names})
    line = build_summary_line(record)
    assert len(line) <= _SUMMARY_LINE_BUDGET
    parsed = json.loads(line)
    assert parsed["queries"] == record["queries"]
    assert parsed["n_queries"] == len(record["queries"])
    # Fingerprint keys (tools/compare_bench._fingerprint) must survive
    # so a wrapper still resolves to the durable record.
    assert parsed["value"] == record["value"]
    assert parsed["sentinel_ms"] == record["sentinel_ms"]
    assert parsed["io_probe_ms"]["start"] == record["io_probe_ms"]["start"]
    assert parsed["io_probe_ms"]["end"] == record["io_probe_ms"]["end"]
    assert parsed["sf"] == record["sf"]
    # The per-edge sample lists ride only in the full record.
    assert "start_samples" not in parsed["io_probe_ms"]


def test_summary_drops_queries_when_over_budget():
    """If the query set ever outgrows the tail window, the guard drops
    the per-query dict (full line + durable record still carry it)
    instead of emitting a line whose HEAD the tail would truncate."""
    big = {f"query_with_a_rather_long_name_{i:04d}": 0.123 for i in range(80)}
    line = build_summary_line(_payload(big))
    assert len(line) <= _SUMMARY_LINE_BUDGET
    parsed = json.loads(line)
    assert "queries" not in parsed
    assert parsed["n_queries"] == 80  # count survives for the reader


def test_summary_preserves_contamination_flag():
    line = build_summary_line(
        _payload({"q": 1.0}, io_contaminated="reason text")
    )
    parsed = json.loads(line)
    assert parsed["io_contaminated"] is True
