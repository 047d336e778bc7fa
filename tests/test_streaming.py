"""Streaming scenario tests (SURVEY.md §5.2): multi-micro-batch
behaviors the batch oracles can't certify — watermark late-data
dropping (T4) and cross-batch dedup state (T5)."""

from __future__ import annotations

import glob
import os
import shutil
import time
import uuid

import pytest
from pyspark.sql import functions as F

from gostream_spark.streaming.ops import dedup_stream, windowed_counts
from gostream_spark.streaming.runner import run_available_now
from gostream_spark.streaming.source import rate_stream

TMP = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")


def _write_event_files(spark, rows_per_file):
    """Write one parquet file per batch of rows, with increasing
    mtimes so the file-stream source processes them in order."""
    d = os.path.join(TMP, f"events-{uuid.uuid4().hex[:8]}")
    os.makedirs(d, exist_ok=True)
    for i, rows in enumerate(rows_per_file):
        df = spark.createDataFrame(
            rows, "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING"
        )
        sub = os.path.join(TMP, f"stage-{uuid.uuid4().hex[:8]}")
        df.coalesce(1).write.mode("overwrite").parquet(sub)
        part = [f for f in os.listdir(sub) if f.endswith(".parquet")][0]
        dest = os.path.join(d, f"file{i}.parquet")
        shutil.move(os.path.join(sub, part), dest)
        shutil.rmtree(sub, ignore_errors=True)
        t = time.time() + i * 10
        os.utime(dest, (t, t))
    return d


def _stream_dir(spark, path):
    schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(path)
    )


def test_dedup_state_spans_batches(spark):
    """T5: a key seen in batch 1 must be suppressed in batch 2."""
    from datetime import datetime

    mk = lambda i, h: (i, datetime(2024, 1, 1, h, 0, 0), i % 3, "click")
    d = _write_event_files(
        spark,
        [
            [mk(1, 10), mk(2, 10), mk(3, 10)],
            [mk(3, 11), mk(4, 11), mk(5, 11)],  # 3 is a cross-batch dup
        ],
    )
    out = run_available_now(
        dedup_stream(
            _stream_dir(spark, d),
            keys=["event_id"],
            watermark="10 hours",
            unbounded_state=True,
        ),
        output_mode="append",
    )
    ids = sorted(r.event_id for r in out.select("event_id").collect())
    assert ids == [1, 2, 3, 4, 5]
    shutil.rmtree(d, ignore_errors=True)


def test_dedup_stream_guards_unbounded_state(spark):
    """T5 API guard (r12, VERDICT r11 #2): dedup_stream without an
    event-time key accumulates seen-key state forever (measured: 1M
    rows monotone on the decade replay) — the helper must refuse that
    form unless the caller asserts a bounded key space. The guard is
    plan-construction-time (eager), so no query needs to start."""
    ev = (
        spark.readStream.format("rate")
        .load()
        .withColumnRenamed("timestamp", "ts")
        .withColumn("event_id", F.col("value"))
    )
    # pure-id keys, no opt-in: refused, with the bounded alternatives named
    with pytest.raises(ValueError, match="unbounded_state=True"):
        dedup_stream(ev, keys=["event_id"])
    # event-time column among the keys: watermark-evicted state, admitted
    assert dedup_stream(ev, keys=["event_id", "ts"]).isStreaming
    # explicit bounded-keyspace assertion: admitted
    assert dedup_stream(ev, keys=["event_id"], unbounded_state=True).isStreaming


def test_watermark_drops_late_rows(spark):
    """T4: once a window has been finalized and evicted (watermark
    passed its end), a straggler for that window is DROPPED — the
    append-mode sink sees the window exactly once, with the on-time
    rows only. (Verified against stateOperators'
    numRowsDroppedByWatermark: the 12:30 straggler is counted as
    dropped in its arrival batch.)"""
    from datetime import datetime

    d = _write_event_files(
        spark,
        [
            # batch 0: three 12:00-window events + a 23:00 event that
            # pushes the watermark to 22:00
            [
                (1, datetime(2024, 1, 1, 12, 0), 0, "click"),
                (2, datetime(2024, 1, 1, 12, 10), 0, "click"),
                (3, datetime(2024, 1, 1, 12, 20), 0, "click"),
                (4, datetime(2024, 1, 1, 23, 0), 0, "click"),
            ],
            # batch 1: watermark 22:00 applies -> the 12:00 window is
            # emitted and its state evicted during this batch
            [(5, datetime(2024, 1, 1, 23, 10), 0, "click")],
            # batch 2: a 12:30 straggler for the already-evicted window
            # (must be dropped, NOT re-emitted) + a fresh 23:50 event
            # whose window never finalizes before the stream ends
            [
                (6, datetime(2024, 1, 1, 12, 30), 0, "click"),
                (7, datetime(2024, 1, 1, 23, 50), 0, "click"),
            ],
        ],
    )
    out = run_available_now(
        windowed_counts(_stream_dir(spark, d), duration="1 hour", watermark="1 hour"),
        output_mode="append",
    )
    rows = {
        r["start"].strftime("%H:%M"): r["event_cnt"]
        for r in out.select(F.col("w.start").alias("start"), "event_cnt").collect()
    }
    # exactly one emission of the 12:00 window, with the 3 on-time rows;
    # the straggler neither re-opened it nor produced a duplicate row.
    assert rows == {"12:00": 3}
    shutil.rmtree(d, ignore_errors=True)


def test_update_mode_reemits_changed_windows(spark):
    """T8: update mode re-emits a window each micro-batch that changes
    it — the sink log shows the count evolving, and the latest value
    per window equals the batch total."""
    from datetime import datetime

    mk = lambda i, m: (i, datetime(2024, 1, 1, 12, m, 0), 0, "click")
    d = _write_event_files(
        spark,
        [
            [mk(1, 0), mk(2, 5)],   # 12:00 window -> count 2
            [mk(3, 10), mk(4, 20)], # same window -> count 4
        ],
    )
    out = run_available_now(
        windowed_counts(_stream_dir(spark, d), duration="1 hour", watermark="10 hours"),
        output_mode="update",
    )
    rows = sorted(r.event_cnt for r in out.collect())
    # two emissions of the same window: after batch 1 (2) and batch 2 (4)
    assert rows == [2, 4]
    shutil.rmtree(d, ignore_errors=True)


def test_checkpoint_recovery_exactly_once(spark):
    """Checkpoint + replayable source + append sink = exactly-once
    across restarts (strictly stronger than the reference's
    at-least-once): restart with the same checkpoint processes ONLY
    files that arrived after the first run — nothing re-emitted,
    nothing lost."""
    from datetime import datetime

    src = os.path.join(TMP, f"ckpt-src-{uuid.uuid4().hex[:8]}")
    out = os.path.join(TMP, f"ckpt-out-{uuid.uuid4().hex[:8]}")
    ckpt = os.path.join(TMP, f"ckpt-loc-{uuid.uuid4().hex[:8]}")
    os.makedirs(src)

    def write_file(i, ids):
        rows = [(j, datetime(2024, 1, 1, 12, 0, 0), j % 3, "click") for j in ids]
        df = spark.createDataFrame(
            rows, "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING"
        )
        sub = os.path.join(TMP, f"stage-{uuid.uuid4().hex[:8]}")
        df.coalesce(1).write.mode("overwrite").parquet(sub)
        part = [f for f in os.listdir(sub) if f.endswith(".parquet")][0]
        shutil.move(os.path.join(sub, part), os.path.join(src, f"file{i}.parquet"))
        shutil.rmtree(sub, ignore_errors=True)

    def run_once():
        schema = spark.read.parquet(src).schema
        sdf = spark.readStream.schema(schema).parquet(src).select("event_id")

        def write_batch(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        q = (
            sdf.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    write_file(0, [1, 2, 3])
    run_once()
    write_file(1, [4, 5])
    run_once()  # same checkpoint: must process ONLY file1

    ids = sorted(r.event_id for r in spark.read.parquet(out).collect())
    assert ids == [1, 2, 3, 4, 5]  # each exactly once
    for d in (src, out, ckpt):
        shutil.rmtree(d, ignore_errors=True)


def test_rate_source_is_streaming(spark):
    """S2: the tick-tuple spout equivalent builds a streaming frame."""
    df = rate_stream(spark, rows_per_second=5)
    assert df.isStreaming
    assert set(df.columns) == {"timestamp", "value"}


def test_fanout_two_sinks_from_one_source(spark, sf_dir):
    """Topology fan-out (the reference's DAG with two terminal
    bolts): one source feeds two independent streaming sinks; each
    sees the full stream."""
    from gostream_spark.streaming.source import file_stream
    from gostream_spark.streaming.runner import run_available_now

    ev = file_stream(spark, sf_dir, "events")
    counts = run_available_now(
        ev.groupBy("event_type").count(), output_mode="complete"
    )
    ids = run_available_now(ev.select("event_id"), output_mode="append")
    total = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert sum(r["count"] for r in counts.collect()) == total
    assert ids.count() == total


def test_processing_time_trigger(spark):
    """T7: processingTime trigger — micro-batches fire on the wall
    clock; the rate spout produces rows while the query runs."""
    df = rate_stream(spark, rows_per_second=100).select("value")
    name = f"rate_sink_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 20
        while time.time() < deadline and spark.table(name).count() == 0:
            time.sleep(0.5)
        assert spark.table(name).count() > 0
        assert q.isActive
    finally:
        q.stop()


def test_session_windows_merge_across_batches(spark):
    """T3: two sessions separated by more than the gap in batch 1 must
    MERGE when batch 2 delivers a bridging event between them — the
    cross-batch session-state merge that distinguishes streaming
    session windows from per-batch sessionization."""
    from datetime import datetime

    mk = lambda i, h, m: (i, datetime(2024, 1, 1, h, m, 0), 1, "click")
    d = _write_event_files(
        spark,
        [
            [mk(1, 10, 0), mk(2, 10, 40)],  # 40-min gap: two open sessions
            [mk(3, 10, 20)],  # bridges them into one
        ],
    )
    sess = (
        _stream_dir(spark, d)
        .withWatermark("ts", "10 hours")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = run_available_now(sess, output_mode="complete")
    rows = out.select("w.start", "w.end", "n").collect()
    assert len(rows) == 1, rows
    assert rows[0].n == 3
    assert rows[0].start == datetime(2024, 1, 1, 10, 0, 0)
    assert rows[0].end == datetime(2024, 1, 1, 11, 10, 0)
    shutil.rmtree(d, ignore_errors=True)


def test_processing_time_timeout_closes_idle_state(spark):
    """T6 timers: a key idle past the processing-time timeout is
    closed by the timed-out callback — emits a final 'timeout' record
    with its full count and removes its state. availableNow cannot
    terminate a ProcessingTimeTimeout query (shouldRunAnotherBatch is
    unconditionally true), so the run is bounded by OBSERVED OUTPUT
    via run_until: stop once user 1's eviction record lands."""
    from datetime import datetime

    from gostream_spark.streaming.ops import session_timeout_stateful
    from gostream_spark.streaming.runner import run_until

    mk = lambda i, u, h: (i, datetime(2024, 1, 1, h, 0, 0), u, "click")
    d = _write_event_files(
        spark,
        [
            [mk(1, 1, 10), mk(2, 2, 10)],  # users 1 and 2
            [mk(3, 2, 11)],                # only user 2 stays active
        ],
    )

    def _user1_closed(sink_df):
        return (
            sink_df.filter(
                (F.col("user_id") == 1) & (F.col("closed") == "timeout")
            ).count()
            > 0
        )

    out = run_until(
        session_timeout_stateful(_stream_dir(spark, d), timeout_ms=500),
        _user1_closed,
        output_mode="update",
        timeout_sec=120,
    ).collect()
    closes = {r.user_id: r.n_events for r in out if r.closed == "timeout"}
    opens = {r.user_id: r.n_events for r in out if r.closed == "open"}
    assert closes[1] == 1       # idle key evicted with its final count
    assert opens[2] == 2        # active key saw both events while open
    # Activity DEFERS eviction: if user 2's timer also fired by the
    # time we stopped, its close must carry the full post-activity
    # count — proving the batch-2 update re-armed the timer rather
    # than closing at the batch-1 count.
    assert closes.get(2, 2) == 2
    import shutil as _sh

    _sh.rmtree(d, ignore_errors=True)


def test_stateful_counts_survive_query_restart(spark):
    """Checkpoint recovery: per-key state must survive a full query
    STOP + RESTART from the same checkpoint — the property that makes
    a production deploy upgradeable. Run 1 counts file 1; the query is
    stopped; run 2 (same checkpoint) ingests file 2 and must emit
    counts CONTINUED from the recovered state, not fresh ones."""
    from datetime import datetime

    from gostream_spark.streaming.ops import running_count_stateful

    mk = lambda i, u: (i, datetime(2024, 1, 1, 10, 0, 0), u, "click")
    d = _write_event_files(spark, [[mk(1, 1), mk(2, 1), mk(3, 2)]])
    ckpt = os.path.join(TMP, f"ckpt-restart-{uuid.uuid4().hex[:8]}")
    out = os.path.join(TMP, f"sink-restart-{uuid.uuid4().hex[:8]}")

    # The memory sink refuses checkpoint recovery (not fault-tolerant);
    # a restartable deploy uses a durable sink — foreachBatch->parquet.
    def run_once():
        def write_batch(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out)

        q = (
            running_count_stateful(_stream_dir(spark, d))
            .writeStream.foreachBatch(write_batch)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "restart run did not finish"
        q.stop()
        rows = spark.read.parquet(out).collect()
        latest: dict[int, int] = {}
        for r in rows:
            latest[r.user_id] = max(latest.get(r.user_id, 0), r.n_events)
        return latest

    first = run_once()
    assert first == {1: 2, 2: 1}

    # New data arrives while the query is DOWN; restart must resume
    # from the checkpointed offsets + state.
    df = spark.createDataFrame(
        [(4, datetime(2024, 1, 1, 11, 0, 0), 1, "click"),
         (5, datetime(2024, 1, 1, 11, 0, 0), 3, "click")],
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING",
    )
    sub = os.path.join(TMP, f"stage-{uuid.uuid4().hex[:8]}")
    df.coalesce(1).write.mode("overwrite").parquet(sub)
    part = [f for f in os.listdir(sub) if f.endswith(".parquet")][0]
    shutil.move(os.path.join(sub, part), os.path.join(d, "file9.parquet"))
    shutil.rmtree(sub, ignore_errors=True)

    second = run_once()
    # user 1: 2 (recovered state) + 1 new = 3 — state, not just
    # offsets, survived the restart; user 3 is fresh; user 2 keeps
    # its run-1 value (no new events -> no re-emission).
    assert second == {1: 3, 2: 1, 3: 1}
    for p in (d, ckpt, out):
        shutil.rmtree(p, ignore_errors=True)


def test_stateful_counts_on_rocksdb_state_store(spark):
    """The 100 TB state backend: the same stateful query runs
    unchanged on the RocksDB state store provider (executor-local,
    spillable — the config SCALE.md names for beyond-heap state).
    Asserts the provider is actually engaged via the query's state
    operator metrics, not just that the conf was set."""
    import json as _json
    from datetime import datetime

    from gostream_spark.streaming.ops import running_count_stateful

    mk = lambda i, u: (i, datetime(2024, 1, 1, 10, 0, 0), u, "click")
    d = _write_event_files(spark, [[mk(1, 1), mk(2, 1), mk(3, 2)]])
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        name = f"gs_rocks_{uuid.uuid4().hex[:8]}"
        q = (
            running_count_stateful(_stream_dir(spark, d))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option(
                "checkpointLocation",
                os.path.join(TMP, f"ckpt-rocks-{uuid.uuid4().hex[:8]}"),
            )
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "rocksdb run did not finish"
        progress = [_json.loads(p.json) for p in q.recentProgress]
        q.stop()
        got = {r.user_id: r.n_events for r in spark.table(name).collect()}
        spark.catalog.dropTempView(name)
        assert got == {1: 2, 2: 1}
        mem = [
            s["customMetrics"]
            for p in progress
            for s in p.get("stateOperators", [])
        ]
        assert any("rocksdbSstFileSize" in m for m in mem), (
            "state operator metrics show no RocksDB engagement"
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    shutil.rmtree(d, ignore_errors=True)


def test_eventtime_timeout_boundary_is_strict(spark, tmp_path):
    """Event-time timers fire only when the watermark STRICTLY passes
    the timeout timestamp: a session whose horizon (last + 30min)
    equals the final watermark must stay open, one strictly before it
    must close — the boundary streaming_session_eventtime_timeout's
    oracle encodes."""
    from gostream_spark.streaming import event_session_stateful

    d = str(tmp_path / "ev")
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 100),  # horizon 00:30 == max ts -> open
            (2, "2024-01-01 00:29:00", 200),  # horizon 00:59 > max ts -> open
            (3, "2024-01-01 00:30:00", 300),  # the watermark carrier
            (0, "2023-12-31 20:00:00", 400),  # horizon 20:30 < max ts -> CLOSED
        ],
        "event_id LONG, ts_s STRING, user_id LONG",
    ).select("event_id", F.to_timestamp("ts_s").alias("ts"), "user_id")
    df.coalesce(1).write.mode("overwrite").parquet(d)
    sdf = spark.readStream.schema(df.schema).parquet(d)
    res = run_available_now(
        event_session_stateful(sdf), output_mode="append"
    )
    got = {(r.user_id, r.event_cnt) for r in res.collect()}
    assert got == {(400, 1)}, got


def test_tumbling_counts_available_now_is_single_batch(spark, sf_dir):
    """Regression pin for the r5 bench outlier investigation: the
    file-source fixture is one parquet file and no maxFilesPerTrigger
    is set, so availableNow must process ALL input in exactly one
    micro-batch — if this ever splits into several, the fixed
    micro-batch machinery (~0.35 s each: WAL, planning, state commit)
    multiplies and the bench number degrades for no plan reason."""
    import shutil
    import uuid

    from gostream_spark.queries.streaming_queries import windowed_counts
    from gostream_spark.streaming import runner
    from gostream_spark.streaming.source import file_stream

    ev = file_stream(spark, sf_dir, "events")
    name = f"pin_batches_{uuid.uuid4().hex[:6]}"
    ckpt = runner._scratch("ckpt")
    q = (
        windowed_counts(ev)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    progresses = [p for p in q.recentProgress if p["numInputRows"] > 0]
    spark.catalog.dropTempView(name)
    shutil.rmtree(ckpt, ignore_errors=True)
    assert len(progresses) == 1, [
        (p["batchId"], p["numInputRows"]) for p in q.recentProgress
    ]


def test_split_sink_empty_side_still_readable(spark, sf_dir):
    """Side-output robustness: when the routing predicate matches
    NOTHING in a batch, the side sink must still come out as a
    readable (zero-row) parquet dataset, not a missing/invalid path —
    the helper writes both filtered frames every trigger precisely so
    downstream readers never special-case an empty quarantine."""
    from pyspark.sql import functions as SF

    from gostream_spark.streaming.runner import run_foreach_batch_split
    from gostream_spark.streaming.source import file_stream

    ev = file_stream(spark, sf_dir, "events").select("event_id", "event_type")
    session, main_out, side_out = run_foreach_batch_split(
        ev, lambda df: SF.col("event_type") == "no_such_type"
    )
    side = session.read.parquet(side_out)
    assert side.count() == 0
    # `batch` is the per-batch idempotence partition column the split
    # helper writes under (replay overwrites its own directory)
    assert set(side.columns) == {"event_id", "event_type", "batch"}
    total = session.read.parquet(main_out).count()
    assert total == ev.sparkSession.read.parquet(
        f"{sf_dir.rstrip('/')}/events.parquet"
    ).count()


def test_matview_merge_replay_is_idempotent(spark, tmp_path):
    """Replaying a batch id (foreachBatch's at-least-once contract
    after recovery) must NOT double-count: the merger stamps each
    version with its batch id and skips already-applied ids."""
    from gostream_spark.queries.streaming_queries import make_matview_merger

    mv_root = str(tmp_path / "mv")
    import os

    os.makedirs(mv_root, exist_ok=True)
    state, merge = make_matview_merger(mv_root)

    b0 = spark.createDataFrame(
        [("click", 100), ("click", 50), ("view", 10)],
        "event_type string, cents long",
    )
    b1 = spark.createDataFrame([("click", 25)], "event_type string, cents long")
    merge(b0, 0)
    merge(b1, 1)
    merge(b1, 1)  # replay of batch 1 — must be a no-op
    merge(b0, 0)  # late replay of batch 0 — must be a no-op
    final = {
        r.event_type: (r.event_cnt, r.value_cents)
        for r in spark.read.parquet(state["current"]).collect()
    }
    assert final == {"click": (3, 175), "view": (1, 10)}, final


def test_matview_crashed_staging_write_does_not_suppress_replay(
    spark, tmp_path
):
    """A crash MID-write must not mark the batch applied: the merger
    stages each version under `.staging-*` and renames atomically, so
    a partial write leaves only a staging orphan. Replaying the same
    batch id must then genuinely merge it (not skip it), and the
    orphan must never be mistaken for a committed version."""
    import os

    from gostream_spark.queries.streaming_queries import make_matview_merger

    mv_root = str(tmp_path / "mv")
    os.makedirs(mv_root, exist_ok=True)
    # Simulate a crash while batch 0 was being written: a partial
    # staging directory exists, but no committed v0-* version.
    os.makedirs(os.path.join(mv_root, ".staging-0-deadbe"))
    state, merge = make_matview_merger(mv_root)

    b0 = spark.createDataFrame(
        [("click", 100), ("view", 10)], "event_type string, cents long"
    )
    merge(b0, 0)  # redelivery after the simulated crash
    committed = [d for d in os.listdir(mv_root) if d.startswith("v0-")]
    assert len(committed) == 1, os.listdir(mv_root)
    # the crashed attempt's staging orphan was swept on re-merge, so
    # repeated failures can't accumulate dead data in mv_root
    assert not [d for d in os.listdir(mv_root) if d.startswith(".staging-")]
    final = {
        r.event_type: (r.event_cnt, r.value_cents)
        for r in spark.read.parquet(state["current"]).collect()
    }
    assert final == {"click": (1, 100), "view": (1, 10)}, final


def test_split_sink_batch_replay_does_not_duplicate(spark, tmp_path, sf_dir):
    """The two split-sink writes are not one atomic commit, so a crash
    between them + at-least-once replay re-delivers the same batch id.
    Each batch writes to its own overwrite directory, so replay must
    leave counts unchanged — simulate it by invoking the writer twice
    with the same batch id."""
    import os

    from pyspark.sql import functions as SF

    ev = spark.read.parquet(f"{sf_dir.rstrip('/')}/events.parquet").select(
        "event_id", "event_type"
    )
    main_out = str(tmp_path / "main")
    side_out = str(tmp_path / "side")

    def write_batch(batch_df, batch_id):
        batch_df.persist()
        try:
            batch_df.filter(SF.col("event_type") != "error").write.mode(
                "overwrite"
            ).parquet(os.path.join(main_out, f"batch={batch_id}"))
            batch_df.filter(SF.col("event_type") == "error").write.mode(
                "overwrite"
            ).parquet(os.path.join(side_out, f"batch={batch_id}"))
        finally:
            batch_df.unpersist()

    write_batch(ev, 0)
    write_batch(ev, 0)  # replayed batch — must overwrite, not append
    total = spark.read.parquet(main_out).count() + spark.read.parquet(side_out).count()
    assert total == ev.count(), "replay duplicated rows"


def test_stateful_crash_after_state_commit_recovers_exactly_once(
    spark, tmp_path, sf_dir
):
    """Failure injection on the STATE path (the sink-side twin lives in
    test_pysource.py): a stateful streaming aggregation is killed
    mid-micro-batch — AFTER the state store has committed that batch's
    state (forced by an action on batch_df inside foreachBatch) but
    BEFORE the sink writes anything for it. Restarting on the same
    checkpoint must replay the failed batch against the RECOVERED
    state version (not the orphaned one the crashed attempt
    committed), and the merged sink output must equal the one-shot
    batch aggregate — exactly-once despite the at-least-once replay."""
    import glob

    ev = (
        spark.read.parquet(f"{sf_dir.rstrip('/')}/events.parquet")
        .select("event_id", "event_type")
    )
    stage = str(tmp_path / "stage")
    for i in range(4):
        ev.filter(F.col("event_id") % 4 == i).coalesce(1).write.mode(
            "append"
        ).parquet(stage)

    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(out)
    bomb = {"armed": True}

    def sink(batch_df, batch_id: int) -> None:
        batch_df.persist()
        try:
            n = batch_df.count()  # action: upstream state commits HERE
            if batch_id == 2 and bomb["armed"]:
                bomb["armed"] = False
                raise RuntimeError("injected crash after state commit")
            # overwrite per batch id => sink-side replay idempotence
            batch_df.write.mode("overwrite").parquet(
                os.path.join(out, f"b{batch_id}")
            )
            assert n == batch_df.count()
        finally:
            batch_df.unpersist()

    def start():
        sdf = (
            spark.readStream.schema("event_id long, event_type string")
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        counts = sdf.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
        return (
            counts.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    with pytest.raises(Exception, match="injected crash after state commit"):
        q.awaitTermination(300)
        raise AssertionError("query must fail on the injected crash")
    q.stop()
    crashed_dirs = sorted(os.path.basename(p) for p in glob.glob(f"{out}/b*"))
    assert "b2" not in crashed_dirs, "sink must have nothing for the dead batch"
    assert not bomb["armed"], "the bomb must actually have gone off"

    q2 = start()  # recovery: same checkpoint, same sink
    assert q2.awaitTermination(300), "recovered run must finish"
    q2.stop()

    dirs = sorted(glob.glob(f"{out}/b*"))
    assert [os.path.basename(d) for d in dirs] == ["b0", "b1", "b2", "b3"]
    # Merge update-mode deltas: latest batch wins per key.
    latest: dict[str, int] = {}
    for d in dirs:  # sorted => ascending batch id
        for r in spark.read.parquet(d).collect():
            latest[r.event_type] = r.n
    truth = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .collect()
    }
    assert latest == truth, (latest, truth)


def test_file_stream_reads_directory_table(spark, tmp_path, sf_dir):
    """A production table is a DIRECTORY of part files, not one file —
    file_stream must stream every shard of a directory-shaped table
    (the single-file fixture layout is the special case, not the
    rule). Regression for the sharded-fixture determinism sweep,
    where the old parent-dir + name-glob scoping silently matched
    nothing and every streaming query read 0 rows."""
    from gostream_spark.streaming.source import file_stream
    from gostream_spark.streaming.runner import run_available_now

    ev = spark.read.parquet(f"{sf_dir.rstrip('/')}/events.parquet")
    root = tmp_path / "sf-sharded"
    tdir = str(root / "events.parquet")
    for i in range(3):
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(tdir)

    out = run_available_now(
        file_stream(spark, str(root), "events").select("event_id"),
        output_mode="append",
    )
    assert out.count() == ev.count()


@pytest.mark.parametrize("store", ["hdfs", "rocksdb"])
def test_stateful_state_survives_whole_driver_kill(spark, tmp_path, sf_dir, store):
    """Failure injection on the STATE STORE across DRIVER loss: the
    running-count ``applyInPandasWithState`` query runs in a separate
    driver process (tests/stateful_restart_harness.py) that halt()s
    its JVM after the state store committed batch 2's state version
    but before the sink saw batch 2 — no shutdown hooks, no graceful
    stop. A fresh process on the same checkpoint must reload the last
    COMMITTED state version (post-batch-1, not the crashed attempt's
    orphan), replay batch 2 against it, and finish with per-key
    cumulative counts equal to the one-shot batch ground truth. This
    is the state-side twin of test_matview_survives_whole_driver_kill
    (sink side) and the whole-process upgrade of
    test_stateful_crash_after_state_commit_recovers_exactly_once
    (in-process restart). Runs on BOTH providers: the HDFS-backed
    default and RocksDB with changelog checkpointing — the store a
    100 TB deployment runs, whose recovery path (replay changelog
    deltas onto the last snapshot) is exactly what a mid-batch
    halt() stresses."""
    import glob
    import subprocess
    import sys

    ev = spark.read.parquet(f"{sf_dir.rstrip('/')}/events.parquet").select(
        "event_id", "user_id"
    )
    stage = str(tmp_path / "stage")
    for i in range(4):
        ev.filter(F.col("event_id") % 4 == i).coalesce(1).write.mode(
            "append"
        ).parquet(stage)
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    harness = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "stateful_restart_harness.py"
    )

    def run(mode: str) -> subprocess.CompletedProcess:
        return subprocess.run(
            [sys.executable, harness, mode, stage, out, ckpt, store],
            capture_output=True, text=True, timeout=600,
        )

    crashed = run("crash")
    assert crashed.returncode != 0, (
        f"crash run must die, got rc=0\n{crashed.stdout}\n{crashed.stderr}"
    )
    crashed_dirs = sorted(os.path.basename(p) for p in glob.glob(f"{out}/b*"))
    assert crashed_dirs == ["b0", "b1"], (
        f"halt fired between state commit and sink write for b2; sink "
        f"must hold exactly b0,b1 — got {crashed_dirs}"
    )
    # The state store must have durably committed versions pre-kill
    # (*.delta/*.snapshot for the HDFS store; *.changelog/*.zip for
    # RocksDB changelog checkpointing).
    state_files = [
        p
        for pat in ("*.delta", "*.snapshot", "*.changelog", "*.zip")
        for p in glob.glob(f"{ckpt}/state/**/{pat}", recursive=True)
    ]
    assert state_files, "crash run must leave committed state versions behind"

    recovered = run("recover")
    assert recovered.returncode == 0, (
        f"recovery run failed rc={recovered.returncode}\n"
        f"{recovered.stdout}\n{recovered.stderr}"
    )
    dirs = sorted(glob.glob(f"{out}/b*"))
    assert [os.path.basename(d) for d in dirs] == ["b0", "b1", "b2", "b3"]
    # Update-mode deltas: latest batch wins per key. If the recovered
    # driver had lost (or double-applied) state, users whose last
    # event is in batch 2 or 3 would carry wrong cumulative counts.
    latest: dict[int, int] = {}
    for d in dirs:  # sorted => ascending batch id
        for r in spark.read.parquet(d).collect():
            latest[r.user_id] = r.n_events
    truth = {
        r.user_id: r.n_events
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .collect()
    }
    assert latest == truth, (
        f"{len(latest)} keys vs {len(truth)}; "
        f"mismatches={[k for k in truth if latest.get(k) != truth[k]][:5]}"
    )


@pytest.mark.parametrize("store", ["hdfs", "rocksdb"])
def test_stream_stream_join_survives_whole_driver_kill(
    spark, tmp_path, sf_dir, store
):
    """Failure injection on SYMMETRIC JOIN STATE across driver loss —
    the last state surface without a whole-process kill proof (r8
    covered matview sink, 2PC jsonl sink, applyInPandasWithState on
    both providers). A watermarked full-outer stream-stream join (the
    `streaming_stream_stream_full_join` shape) runs in a separate
    driver (tests/ss_join_restart_harness.py) that halt()s its JVM
    after batch 2's join-state versions committed but before the sink
    saw batch 2. A fresh driver on the same checkpoint must replay
    batch 2 against the post-batch-1 state — loading the crashed
    attempt's orphaned version instead would double-insert batch 2's
    rows into both sides' join state and emit duplicate matches. The
    recovery contract asserted here is EQUIVALENCE: the killed-and-
    recovered sink must equal an uninterrupted clean run's sink
    row-for-row over the same deterministic batch sequence (same
    staged files, maxFilesPerTrigger=1)."""
    import glob
    import subprocess
    import sys

    ev = spark.read.parquet(f"{sf_dir.rstrip('/')}/events.parquet").select(
        "event_id", "ts", "user_id", "event_type"
    )
    stage = str(tmp_path / "stage")
    for i in range(4):
        ev.filter(F.col("event_id") % 4 == i).coalesce(1).write.mode(
            "append"
        ).parquet(stage)
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    out_clean = str(tmp_path / "sink_clean")
    ckpt_clean = str(tmp_path / "ckpt_clean")

    harness = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "ss_join_restart_harness.py"
    )

    def run(mode: str, o: str, c: str) -> subprocess.CompletedProcess:
        return subprocess.run(
            [sys.executable, harness, mode, stage, o, c, store],
            capture_output=True, text=True, timeout=600,
        )

    crashed = run("crash", out, ckpt)
    assert crashed.returncode != 0, (
        f"crash run must die, got rc=0\n{crashed.stdout}\n{crashed.stderr}"
    )
    crashed_dirs = sorted(os.path.basename(p) for p in glob.glob(f"{out}/b*"))
    assert crashed_dirs == ["b0", "b1"], (
        f"halt fired between state commit and sink write for b2; sink "
        f"must hold exactly b0,b1 — got {crashed_dirs}"
    )
    state_files = [
        p
        for pat in ("*.delta", "*.snapshot", "*.changelog", "*.zip")
        for p in glob.glob(f"{ckpt}/state/**/{pat}", recursive=True)
    ]
    assert state_files, "crash run must leave committed join-state versions"

    recovered = run("recover", out, ckpt)
    assert recovered.returncode == 0, (
        f"recovery run failed rc={recovered.returncode}\n"
        f"{recovered.stdout}\n{recovered.stderr}"
    )
    clean = run("clean", out_clean, ckpt_clean)
    assert clean.returncode == 0, (
        f"clean run failed rc={clean.returncode}\n{clean.stdout}\n{clean.stderr}"
    )

    def sink_rows(root: str) -> list[tuple]:
        dirs = sorted(glob.glob(f"{root}/b*"))
        rows = []
        for d in dirs:
            rows.extend(
                (r.purchase_id, r.click_id, r.user_id)
                for r in spark.read.parquet(d).collect()
            )
        return sorted(rows)

    rec_dirs = sorted(os.path.basename(p) for p in glob.glob(f"{out}/b*"))
    clean_dirs = sorted(
        os.path.basename(p) for p in glob.glob(f"{out_clean}/b*")
    )
    assert rec_dirs == clean_dirs, (rec_dirs, clean_dirs)
    got, want = sink_rows(out), sink_rows(out_clean)
    assert got == want, (
        f"recovered sink diverges from clean run: {len(got)} vs {len(want)} "
        f"rows; first diffs={[p for p in got if p not in want][:5]} / "
        f"{[p for p in want if p not in got][:5]}"
    )


def test_runner_concurrent_queries(spark, sf_dir):
    """Retires the r7/r8 runner-concurrency caveat (VERDICT r8 #6):
    N streaming queries driven CONCURRENTLY through run_available_now
    in ONE session, with DIFFERENT state_partitions pins, must (a)
    produce results identical to their sequential runs and (b) each
    consume its own pin — the startup lock holds the session-global
    spark.sql.shuffle.partitions from conf-set until the query's
    first batch commits, so another thread's pin can never land
    inside that window. Pin consumption is asserted from each
    query's recorded StreamingQueryProgress state-operator partition
    count, not just from results (results are partition-count
    invariant; the pin is the part the race could corrupt)."""
    import json
    from concurrent.futures import ThreadPoolExecutor

    from gostream_spark.streaming import file_stream, run_available_now
    from gostream_spark.streaming.ops import windowed_counts
    from gostream_spark.streaming.runner import RECENT_PROGRESS

    def make(kind: str):
        ev = file_stream(spark, sf_dir, "events")
        if kind == "purchase":
            ev = ev.filter(F.col("event_type") == "purchase")
        elif kind == "click":
            ev = ev.filter(F.col("event_type") == "click")
        return windowed_counts(ev)

    jobs = [("purchase", 2), ("click", 4), ("all", 8)]

    def run_one(job):
        kind, pins = job
        df = run_available_now(
            make(kind), output_mode="complete", state_partitions=pins
        )
        return sorted(map(tuple, df.collect()))

    # Sequential ground truth, also harvesting each pin's recorded
    # state-operator partition count from the progress capture.
    def pin_of_last_run() -> int:
        for stream in reversed(RECENT_PROGRESS):
            for b in reversed(stream["batches"]):
                ops = b.get("stateOperators") or []
                if ops:
                    return ops[0]["numShufflePartitions"]
        raise AssertionError("no state operator progress recorded")

    sequential = []
    for job in jobs:
        RECENT_PROGRESS.clear()
        rows = run_one(job)
        assert pin_of_last_run() == job[1]
        sequential.append(rows)

    RECENT_PROGRESS.clear()
    with ThreadPoolExecutor(max_workers=3) as pool:
        concurrent = list(pool.map(run_one, jobs))
    assert concurrent == sequential
    # All three pins were consumed by exactly one query each.
    pins_seen = sorted(
        b["stateOperators"][0]["numShufflePartitions"]
        for stream in RECENT_PROGRESS
        for b in stream["batches"][-1:]
        if b.get("stateOperators")
    )
    assert pins_seen == [2, 4, 8], json.dumps(pins_seen)


def test_state_schema_evolution_is_refused_then_replayed(spark, tmp_path, sf_dir):
    """Pin what Spark does when a stateful query redeploys with a
    CHANGED state schema against an existing checkpoint (VERDICT r8
    #5) — the operational event every long-lived 100 TB deployment
    eventually hits. Observed and pinned here (Spark 4.1):

    1. v1 (state struct<cnt:long>) runs to completion;
    2. v2 (additive extension struct<cnt:long,last_event:long>) on the
       SAME checkpoint with new input fails FAST and CLEAN at state
       initialization — StreamingQueryException carrying
       STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE — before any state or
       sink write for the new batch (the sink holds exactly v1's
       batches afterwards). No silent corruption, no partial output.
    3. the playbook: v2 against a FRESH checkpoint replays the
       retained source and produces correct final counts.

    SCALE.md §state-schema-evolution documents the playbook this test
    enforces."""
    import glob
    import subprocess
    import sys

    ev = spark.read.parquet(f"{sf_dir.rstrip('/')}/events.parquet").select(
        "event_id", "user_id"
    )
    stage = str(tmp_path / "stage")
    for i in range(4):
        ev.filter(F.col("event_id") % 4 == i).coalesce(1).write.mode(
            "append"
        ).parquet(stage)
    out, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    out2, ckpt2 = str(tmp_path / "sink2"), str(tmp_path / "ckpt2")
    harness = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "schema_evolution_harness.py"
    )

    def run(mode: str, o: str, c: str) -> subprocess.CompletedProcess:
        return subprocess.run(
            [sys.executable, harness, mode, stage, o, c],
            capture_output=True, text=True, timeout=600,
        )

    assert run("v1", out, ckpt).returncode == 0
    v1_dirs = sorted(os.path.basename(p) for p in glob.glob(f"{out}/b*"))
    assert v1_dirs, "v1 must have produced sink batches"

    # New input arrives, then the v2 binary (extended state) deploys
    # against the old checkpoint.
    for i in range(2):
        ev.filter(F.col("event_id") % 4 == i).coalesce(1).write.mode(
            "append"
        ).parquet(stage)
    v2 = run("v2", out, ckpt)
    assert v2.returncode == 5, (v2.returncode, v2.stdout, v2.stderr)
    assert "STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE" in v2.stdout, v2.stdout
    assert sorted(
        os.path.basename(p) for p in glob.glob(f"{out}/b*")
    ) == v1_dirs, "refused run must not have written any new sink batch"

    # Playbook: fresh checkpoint, replay the retained source.
    assert run("v2fresh", out2, ckpt2).returncode == 0
    latest: dict[int, int] = {}
    for d in sorted(glob.glob(f"{out2}/b*")):
        for r in spark.read.parquet(d).collect():
            latest[r.user_id] = r.n_events
    staged = spark.read.parquet(stage)
    truth = {
        r.user_id: r.n
        for r in staged.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .collect()
    }
    assert latest == truth


def test_matview_survives_whole_driver_kill(spark, tmp_path, sf_dir):
    """Failure injection on the DRIVER: the incremental-matview stream
    runs in a SEPARATE driver process (tests/matview_restart_harness.py)
    that hard-kills its own JVM with Runtime.halt() — no shutdown
    hooks, no graceful stop — right after the second committed view
    version. A fresh process on the SAME checkpoint + mv_root must
    (a) resume the view from the latest durably-committed version
    (the merger's restart-recovery scan), (b) skip or replay batches
    per the staged-version manifest, and (c) finish with the view
    equal to the one-shot batch aggregate — exactly-once across
    driver loss, strictly stronger than the task/batch-crash tests
    above."""
    import glob
    import subprocess
    import sys

    ev = (
        spark.read.parquet(f"{sf_dir.rstrip('/')}/events.parquet")
        .select(
            "event_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    stage = str(tmp_path / "stage")
    for i in range(4):
        ev.filter(F.col("event_id") % 4 == i).coalesce(1).write.mode(
            "append"
        ).parquet(stage)
    mv_root = str(tmp_path / "mv")
    ckpt = str(tmp_path / "ckpt")

    harness = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "matview_restart_harness.py")

    def run(mode: str) -> subprocess.CompletedProcess:
        return subprocess.run(
            [sys.executable, harness, mode, stage, mv_root, ckpt],
            capture_output=True, text=True, timeout=600,
        )

    crashed = run("crash")
    assert crashed.returncode != 0, (
        f"crash run must die, got rc=0\n{crashed.stdout}\n{crashed.stderr}"
    )
    committed = sorted(glob.glob(f"{mv_root}/v*"))
    assert committed, "crash run must leave committed versions behind"
    assert len(committed) <= 3, (
        "halt after the second commit cannot have committed all batches"
    )

    recovered = run("recover")
    assert recovered.returncode == 0, (
        f"recovery run failed rc={recovered.returncode}\n"
        f"{recovered.stdout}\n{recovered.stderr}"
    )
    versions = glob.glob(f"{mv_root}/v*")
    final = max(versions, key=lambda d: int(os.path.basename(d)[1:].split("-")[0]))
    got = {
        r.event_type: (r.event_cnt, r.value_cents)
        for r in spark.read.parquet(final).collect()
    }
    truth = {
        r.event_type: (r.event_cnt, r.value_cents)
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("event_cnt"),
            F.sum("cents").cast("long").alias("value_cents"),
        )
        .collect()
    }
    assert got == truth, (got, truth)
    assert not glob.glob(f"{mv_root}/.staging-*"), "staging orphans must be swept"


def test_stateful_restart_rescale_keeps_checkpoint_state_partitions(
    spark, tmp_path, sf_dir
):
    """A redeploy that changes spark.sql.shuffle.partitions must NOT
    change a recovering stateful query's state partitioning: Spark
    pins the value in the checkpoint's offset-log conf at batch 0 and
    restores it on every restart (the property the runner's
    state_partitions pin relies on — runner.py documents it; this
    test makes it a pinned fact instead of an assertion). A crash run
    at 4 shuffle partitions halt()s mid-stream, then the recovery
    driver starts with 9 — results must equal the batch ground truth
    AND the checkpoint's state directory must still hold exactly
    partitions 0..3, with no partition-4+ store ever created. The pin
    lives in offset-log metadata, so one provider (HDFS-backed
    default) suffices."""
    import glob
    import subprocess
    import sys

    ev = spark.read.parquet(f"{sf_dir.rstrip('/')}/events.parquet").select(
        "event_id", "user_id"
    )
    stage = str(tmp_path / "stage")
    for i in range(4):
        ev.filter(F.col("event_id") % 4 == i).coalesce(1).write.mode(
            "append"
        ).parquet(stage)
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    harness = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "stateful_restart_harness.py"
    )

    def run(mode: str, partitions: str) -> subprocess.CompletedProcess:
        return subprocess.run(
            [sys.executable, harness, mode, stage, out, ckpt, "hdfs", partitions],
            capture_output=True, text=True, timeout=600,
        )

    crashed = run("crash", "4")
    assert crashed.returncode != 0, (
        f"crash run must die, got rc=0\n{crashed.stdout}\n{crashed.stderr}"
    )

    recovered = run("recover", "9")
    assert recovered.returncode == 0, (
        f"recovery under rescaled conf failed rc={recovered.returncode}\n"
        f"{recovered.stdout}\n{recovered.stderr}"
    )

    # State layout proof: ckpt/state/<op>/<partitionId> — the pinned
    # width survives the conf change.
    part_dirs = {
        os.path.basename(p)
        for p in glob.glob(f"{ckpt}/state/0/*")
        if os.path.basename(p).isdigit()
    }
    assert part_dirs == {"0", "1", "2", "3"}, part_dirs

    # Semantics proof: per-key cumulative counts equal ground truth.
    latest: dict[int, int] = {}
    for d in sorted(glob.glob(f"{out}/b*")):
        for r in spark.read.parquet(d).collect():
            latest[r.user_id] = r.n_events
    truth = {
        r.user_id: r.n_events
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .collect()
    }
    assert latest == truth


def test_join_state_plateaus_and_dedup_state_grows_under_shifted_replay(
    spark, tmp_path, sf_dir
):
    """Permanent pin for the two state-lifecycle facts the r11 decade
    probe measured (PERF.md "Streaming-state decade"):

    - stream-stream join state is WATERMARK-BOUNDED: replaying a
      time-shifted 3-shard stream one shard per micro-batch, each
      shard's join state is evicted once the next shard advances the
      watermark past it — the final data batch holds ~one shard's
      state, not the cumulative total (rate-bounded, not
      history-bounded).
    - plain dropDuplicates(id_keys) state is NOT watermark-evicted
      (no event-time column among the keys): it grows monotonically
      to the full distinct-key count.

    The fixture is restage_decade.py in miniature: per-shard disjoint
    event/user ids, ts shifted by span+2h per shard so event time is
    monotone across replay batches."""
    from gostream_spark.registry import get_query
    from gostream_spark.streaming.runner import RECENT_PROGRESS

    ev = spark.read.parquet(f"{sf_dir.rstrip('/')}/events.parquet")
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    shift_sec = int((hi - lo).total_seconds()) + 2 * 3600
    root = tmp_path / "shifted-decade"
    tdir = str(root / "events.parquet")
    seen_parts: set[str] = set()
    for k in range(3):
        (
            ev.select(
                (F.col("event_id") + k * 10_000_000).alias("event_id"),
                (F.col("ts") + F.expr(f"INTERVAL {k * shift_sec} SECOND")).alias(
                    "ts"
                ),
                (F.col("user_id") + k * 10_000_000).alias("user_id"),
                "event_type",
                "value",
                "props",
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(tdir)
        )
        # FileStreamSource replays oldest-mtime-first; sequential writes
        # can TIE on coarse filesystem timestamps, which would reorder
        # batches and break the event-time monotonicity the assertions
        # below depend on. Pin strictly increasing mtimes per shard.
        for p in glob.glob(f"{tdir}/part-*"):
            if p not in seen_parts:
                seen_parts.add(p)
                os.utime(p, (1_700_000_000 + k, 1_700_000_000 + k))

    def state_rows_per_batch(name):
        RECENT_PROGRESS.clear()
        get_query(name).fn(
            spark, str(root), max_files_per_trigger=1
        ).count()
        rows = [
            (
                b["batchId"],
                b.get("numInputRows", 0),
                sum(o.get("numRowsTotal", 0) for o in (b.get("stateOperators") or [])),
            )
            for s in RECENT_PROGRESS
            for b in s["batches"]
        ]
        RECENT_PROGRESS.clear()
        return rows

    join_rows = state_rows_per_batch("streaming_stream_stream_join")
    data_batches = [r for r in join_rows if r[1] > 0]
    assert len(data_batches) >= 3, join_rows
    first_state = data_batches[0][2]
    last_state = data_batches[-1][2]
    assert first_state > 0
    # Plateau: the final data batch holds ~one shard's state, NOT the
    # 3-shard cumulative (allow slack for the handful of boundary rows
    # still inside the watermark).
    assert last_state < 2 * first_state, join_rows

    dedup_rows = state_rows_per_batch("streaming_dedup")
    dedup_data = [r for r in dedup_rows if r[1] > 0]
    assert len(dedup_data) >= 3, dedup_rows
    n_ids = ev.count()
    # Monotone growth to the full distinct-key count — the documented
    # dropDuplicates-by-id semantics (no watermark eviction).
    states = [r[2] for r in dedup_data]
    assert states == sorted(states), dedup_rows
    assert states[-1] == 3 * n_ids, dedup_rows

    # The withinWatermark twin on the SAME replay must plateau: each
    # shard's key state is dropped once the next shard's watermark
    # passes event time + delay, so the final data batch holds ~one
    # shard's keys — the bounded-dedup contrast that makes the plain
    # form's growth above a semantics pin, not an accident.
    ww_rows = state_rows_per_batch("streaming_dedup_within_watermark")
    ww_data = [r for r in ww_rows if r[1] > 0]
    assert len(ww_data) >= 3, ww_rows
    assert ww_data[-1][2] < 2 * ww_data[0][2], ww_rows
    shutil.rmtree(str(root), ignore_errors=True)


def test_state_memory_guard_pure_core():
    """VERDICT r12 #3: the flip-rule runtime guard. The measured
    in-heap cliff (PERF.md flip-point probe) has NO latency
    early-warning, so the runner compares stateOperators.
    memoryUsedBytes to the JVM heap per batch and warns past 0.5x.
    This exercises the pure core on synthetic progress payloads."""
    from gostream_spark.streaming.runner import (
        STATE_MEMORY_GUARD_THRESHOLD,
        state_pressure_warning,
    )

    heap = 1024 * 1048576  # 1 GiB
    assert STATE_MEMORY_GUARD_THRESHOLD == 0.5

    # Below threshold / degenerate payloads: silent.
    assert state_pressure_warning(None, heap) is None
    assert state_pressure_warning({}, heap) is None
    assert state_pressure_warning({"stateOperators": []}, heap) is None
    below = {"stateOperators": [{"memoryUsedBytes": int(0.4 * heap),
                                 "numRowsTotal": 100}]}
    assert state_pressure_warning(below, heap) is None
    # Guard disabled when the heap reading is unavailable (0).
    assert state_pressure_warning(below, 0) is None

    # Multiple state operators SUM (a stream-stream join keeps two
    # store sides; each alone under threshold must still trip).
    summed = {
        "stateOperators": [
            {"memoryUsedBytes": int(0.3 * heap), "numRowsTotal": 1000},
            {"memoryUsedBytes": int(0.3 * heap), "numRowsTotal": 2000},
        ]
    }
    msg = state_pressure_warning(summed, heap)
    assert msg is not None
    assert "RocksDBStateStoreProvider" in msg
    assert "3000 state rows" in msg
    assert "60%" in msg  # used/heap ratio surfaced for the operator

    # Missing memoryUsedBytes fields count as 0, not a crash.
    assert state_pressure_warning(
        {"stateOperators": [{"numRowsTotal": 5}]}, heap
    ) is None


def test_state_memory_guard_warns_once_per_query():
    """The poll hook emits exactly ONE RuntimeWarning per query name
    (it fires every poll slice otherwise) and never raises on a dead
    gateway. Driven with a synthetic query object — the real cliff
    needs GBs of state (tools/state_capacity_probe.py measures that);
    the unit seam is the progress payload."""
    import warnings as _warnings

    from gostream_spark.streaming.runner import _poll_state_guard

    class _FakeQuery:
        name = "gs_fake"
        lastProgress = {
            "stateOperators": [
                {"memoryUsedBytes": 900 * 1048576, "numRowsTotal": 42}
            ]
        }

    warned: set = set()
    heap = 1024 * 1048576
    with pytest.warns(RuntimeWarning, match=r"state-memory guard.*gs_fake"):
        _poll_state_guard(_FakeQuery(), heap, warned)
    assert warned == {"gs_fake"}
    with _warnings.catch_warnings():
        _warnings.simplefilter("error")  # a second warning would raise
        _poll_state_guard(_FakeQuery(), heap, warned)
        # Disabled guard (heap=0) is silent even for a fresh query.
        _poll_state_guard(_FakeQuery(), 0, set())

    class _DeadQuery:
        name = "gs_dead"

        @property
        def lastProgress(self):
            raise RuntimeError("gateway down")

    _poll_state_guard(_DeadQuery(), heap, set())  # must not raise


@pytest.mark.parametrize(
    "name",
    [
        "streaming_decontaminate_anti",
        "streaming_matview_incremental",
        "pysink_stream_roundtrip",
    ],
)
def test_registered_streams_record_progress(spark, sf_dir, name):
    """Streams the query modules run go through the runner's one
    lifecycle, so each lands in RECENT_PROGRESS (the per-query
    monitoring record bench.py summarizes) with its batches, and its
    output still equals the batch oracle."""
    from gostream_spark.registry import get_query
    from gostream_spark.streaming.runner import RECENT_PROGRESS
    from tests.parity import compare

    q = get_query(name)
    RECENT_PROGRESS.clear()
    df = q.fn(spark, sf_dir)
    assert any(stream["batches"] for stream in RECENT_PROGRESS), list(
        RECENT_PROGRESS
    )
    compare(df, q.oracle, sf_dir)
