"""Tests of the benchmark's pure logic (no Spark session):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys
from datetime import datetime, timezone

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import compare  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import stage  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

T0 = 1_800_000_000.0  # epoch seconds, whole milliseconds


def progress(batch_id: int, rows: int, start: float, trigger_ms: int) -> dict:
    ts = datetime.fromtimestamp(start, timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"
    return {
        "batchId": batch_id,
        "numInputRows": rows,
        "timestamp": ts,
        "durationMs": {"triggerExecution": trigger_ms},
    }


def shard(i: int, rows: int, due: float) -> dict:
    return {"file": f"shard-{i:05d}.parquet", "rows": rows, "due": due, "released": due + 0.001}


def test_progress_end_is_trigger_start_plus_duration():
    assert stats.progress_end_s(progress(0, 1, T0 + 1.5, 250)) == pytest.approx(T0 + 1.75)


def test_batch_taking_several_shards_ends_each_of_them():
    shards = [shard(0, 100, T0), shard(1, 100, T0 + 0.1), shard(2, 100, T0 + 0.2)]
    batches = [progress(0, 100, T0, 500), progress(1, 200, T0 + 0.5, 500)]
    got = stats.shard_latencies(shards, batches)
    assert [m["batch"] for m in got] == [0, 1, 1]
    assert [m["latency_s"] for m in got] == pytest.approx([0.5, 0.9, 0.8])


def test_no_data_batch_never_covers_a_shard():
    shards = [shard(0, 100, T0 + 0.2)]
    batches = [
        progress(0, 50, T0, 100),  # the pre-roll rows
        progress(1, 0, T0 + 0.1, 100),  # no data
        progress(2, 100, T0 + 0.3, 200),
    ]
    got = stats.shard_latencies(shards, batches, base_rows=50)
    assert got[0]["batch"] == 2
    assert got[0]["latency_s"] == pytest.approx(0.3)


def test_shard_no_batch_covers_is_uncommitted():
    shards = [shard(0, 100, T0), shard(1, 100, T0 + 0.1)]
    got = stats.shard_latencies(shards, [progress(0, 100, T0, 100)])
    assert got[1]["batch"] is None and got[1]["latency_s"] is None


def test_batches_are_matched_in_batch_id_order():
    shards = [shard(0, 10, T0), shard(1, 10, T0 + 0.1)]
    batches = [progress(1, 10, T0 + 1, 100), progress(0, 10, T0, 100)]
    assert [m["batch"] for m in stats.shard_latencies(shards, batches)] == [0, 1]


def test_backlog_counts_released_but_uncommitted_rows():
    shards = [shard(0, 100, T0), shard(1, 100, T0 + 0.4)]
    batches = [progress(0, 0, T0 - 0.1, 200), progress(1, 100, T0 + 0.2, 300)]
    assert stats.backlog_rows(shards, batches) == [100, 100]


def test_uncontended_keeps_clean_windows_only_when_enough():
    w = [{"s": 1.0, "steal_frac": 0.0}, {"s": 2.0, "steal_frac": 0.2}, {"s": 1.1, "steal_frac": 0.01}]
    assert [x["s"] for x in stats.uncontended(w, 0.03, 2)] == [1.0, 1.1]
    assert stats.uncontended(w, 0.03, 3) == w


def test_union_length_merges_overlaps_and_nesting():
    assert stats.union_length([(0, 2), (1, 3), (5, 6), (5.2, 5.5)]) == pytest.approx(4.0)
    assert stats.union_length([]) == 0.0


def test_driver_only_is_window_minus_job_union():
    jobs = [(1, 3), (2, 4), (8, 12)]  # the last one is clipped at the window end
    assert stats.driver_only_s((0, 10), jobs) == pytest.approx(10 - 3 - 2)
    assert stats.driver_only_s((0, 10), []) == pytest.approx(10)
    assert stats.driver_only_s((0, 10), [(-5, 20)]) == pytest.approx(0)


def test_self_time_subtracts_covered_child_time():
    spans = [
        {"id": 0, "parent": None, "t0": 0.0, "t1": 10.0},
        {"id": 1, "parent": 0, "t0": 1.0, "t1": 4.0},
        {"id": 2, "parent": 0, "t0": 3.0, "t1": 5.0},  # overlaps its sibling
        {"id": 3, "parent": 1, "t0": 1.0, "t1": 2.0},
    ]
    assert stats.self_times(spans) == pytest.approx({0: 6.0, 1: 2.0, 2: 2.0, 3: 1.0})


def test_sql_metric_bytes_reads_the_total_line():
    assert stats.sql_metric_bytes("total (min, med, max)\n1.5 KiB (0.5 KiB, 0.5 KiB, 0.5 KiB)") == 1536
    assert stats.sql_metric_bytes(None) == 0.0


def test_quartiles_match_statistics_module():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0]
    q1, med, q3 = stats.quartiles(vals)
    assert med == pytest.approx(3.5)
    assert (q1, q3) == pytest.approx((1.75, 6.0))


def test_verdict_rules():
    base = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
    assert stats.verdict(base, [x * 0.8 for x in base], 0.1)["result"] == "improved"
    assert stats.verdict(base, [x * 1.02 for x in base], 0.1)["result"] == "no worse"
    assert stats.verdict(base, [x * 1.3 for x in base], 0.1)["result"] == "worse"
    wide = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
    assert stats.verdict(wide, wide[::-1], 0.1)["result"] == "unresolved"
    assert stats.verdict([1.0, 2.0], [3.0, 4.0], 0.1, better="higher")["result"] == "improved"


def _bench() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


_UNIT_BY_SUFFIX = {"_s": "s", ".s": "s", "_ms": "ms", "_mb": "MB", "_frac": "ratio"}


def _expected_unit(name: str) -> str:
    for stat in ("_p50", "_p95", "_max"):
        name = name.removesuffix(stat)
    for suffix, unit in _UNIT_BY_SUFFIX.items():
        if name.endswith(suffix):
            return unit
    return "count"


def test_benchmark_units_follow_metric_names():
    bench = _bench()
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert m["unit"] == _expected_unit(m["name"]), m["name"]


def test_record_carries_every_end_to_end_metric():
    bench = _bench()
    produced = {**workloads.end_to_end(2.0, 1.0, 0.5, 0.9, 0.6), **{k: 1.0 for k in run.RUN_METRICS}}
    got = run.select_metrics(produced, bench["end_to_end"])
    assert {k: v["unit"] for k, v in got.items()} == {m["name"]: m["unit"] for m in bench["end_to_end"]}


def _synthetic_layers() -> dict[str, float]:
    spans = [
        {"id": 0, "name": "q.a.build", "layer": "queries", "parent": None, "query": "a", "t0": T0, "t1": T0 + 2},
        {"id": 1, "name": "operators.salted_join", "layer": "operators", "parent": 0, "query": "a", "t0": T0 + 0.5, "t1": T0 + 1},
        {"id": 2, "name": "io.load_table", "layer": "io", "parent": 0, "query": "a", "t0": T0, "t1": T0 + 0.2},
        {"id": 3, "name": "eager.checkpoint.localCheckpoint", "layer": "eager", "parent": 1, "query": "a", "t0": T0 + 0.6, "t1": T0 + 0.9},
        {"id": 4, "name": "q.a.action", "layer": "action", "parent": None, "query": "a", "t0": T0 + 2, "t1": T0 + 3},
    ]
    take = {
        "jobs": [
            {"id": 0, "t0": T0 + 0.6, "t1": T0 + 0.9, "group": "perfbench/0/a/build", "failed_tasks": 0},
            {"id": 1, "t0": T0 + 2.1, "t1": T0 + 2.9, "group": "perfbench/0/a/action", "failed_tasks": 0},
        ],
        "stages": {0: {"tasks": 4, "failed_tasks": 0, "run_ms": 900, "cpu_ns": 8e8, "shuffle_write": 2**20,
                       "shuffle_read": 2**20, "spill": 0, "input": 2**21}},
        "pyudf_bytes": 0.0,
    }
    phases = [{"analysis": 1, "optimization": 5, "planning": 3}]
    window = {"t0": T0, "t1": T0 + 3.1, "s": 3.1}
    return layers.pass_metrics(spans, take, phases, [progress(0, 10, T0 + 2.2, 300)], window)


def test_pass_metrics_reconcile_on_synthetic_spans():
    m = _synthetic_layers()
    assert m["queries.build_s"] + m["queries.action_s"] == pytest.approx(3.0)
    assert m["queries.build_jobs"] == 1 and m["queries.action_jobs"] == 1
    assert m["operators.jobs"] == 1 and m["eager.checkpoint_calls"] == 1
    assert m["io.load_calls"] == 1
    assert m["spark.driver_only_s"] == pytest.approx(3.1 - 0.3 - 0.8)
    assert m["trace.unaccounted_frac"] == pytest.approx(0.1 / 3.1)


def test_record_carries_every_per_layer_metric():
    bench = _bench()
    produced = _synthetic_layers()
    produced["trace.overhead_s"] = 0.0
    produced.update(workloads.service_cpu([{"jit_cpu_s": 0.5, "gc_cpu_s": 0.1}]))
    produced.update({f"q.{q}.s": 0.0 for q in workloads.all_workload_queries()})
    ops = [m["name"] for m in bench["per_layer"] if m["name"].startswith("operators.") and m["name"].count(".") == 2]
    assert ops, "BENCHMARK.json names no operator function"
    produced.update({name: 0.0 for name in ops})
    got = run.select_metrics(produced, bench["per_layer"])
    assert len(got) == len(bench["per_layer"])
    with pytest.raises(RuntimeError):
        run.select_metrics({}, bench["per_layer"])


def test_every_per_layer_metric_has_a_target():
    for m in _bench()["per_layer"]:
        assert compare.target(m["name"]), m["name"]


def test_inactive_tracer_records_no_span():
    tracer = layers.Tracer()
    fn = tracer.wrap(lambda x: x + 1, "operators.f", "operators")
    assert fn(1) == 2 and len(tracer.spans) == 1
    tracer.active = False
    assert fn(2) == 3 and len(tracer.spans) == 1


def test_expected_digests_were_made_from_the_committed_fixture():
    with open(run.EXPECTED) as f:
        expected = json.load(f)
    assert expected["inputs"] == stage.fixture_hashes()
    batch = [wl for wl in workloads.WORKLOADS.values() if wl["kind"] == "batch"]
    assert set(expected["digests"]) == {f"{wl['scale']}/{q}" for wl in batch for q in wl["queries"]}


def test_digests_ignore_row_order():
    rows = [("a", "1"), ("b", "2")]
    assert workloads.digest_rows(rows) == workloads.digest_rows(rows[::-1])
    assert workloads.digest_rows(rows) != workloads.digest_rows(rows[:1])
