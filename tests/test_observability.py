"""Operational observability contracts: streaming progress metrics
(numInputRows, stateful-operator rows) and batch df.observe metrics —
what a production deploy monitors instead of a termination condition."""

from __future__ import annotations

from pyspark.sql import functions as F

from gostream_spark.io import load_table
from gostream_spark.streaming import file_stream, run_available_now, windowed_counts
from gostream_spark.streaming.runner import RECENT_PROGRESS


def test_streaming_progress_reports_input_rows(spark, sf_dir):
    n_events = load_table(spark, sf_dir, "events").count()
    ev = file_stream(spark, sf_dir, "events")
    run_available_now(windowed_counts(ev), output_mode="complete", timeout_sec=120)
    progresses = [p for p in RECENT_PROGRESS[-1]["batches"] if p is not None]
    assert progresses, "expected at least one progress record"
    total_in = sum(p["numInputRows"] for p in progresses)
    assert total_in == n_events, (
        f"metrics must account for every input row, got {total_in}/{n_events}"
    )
    # stateful operator metrics surface the window-state footprint
    state_ops = [op for p in progresses for op in p.get("stateOperators", [])]
    assert state_ops and any(op["numRowsTotal"] > 0 for op in state_ops)


def test_batch_observe_metrics(spark, sf_dir):
    from pyspark.sql import Observation

    n_events = load_table(spark, sf_dir, "events").count()
    obs = Observation("events_obs")
    ev = load_table(spark, sf_dir, "events").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias("null_values"),
    )
    out = ev.groupBy("event_type").count()
    assert out.count() == 5
    got = obs.get
    assert got["n_rows"] == n_events
    assert got["null_values"] >= 0
