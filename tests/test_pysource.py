"""Unit + integration tests for the custom Python DataSource
(gostream_spark/pysource.py): pushdown narrowing, partition planning,
deterministic replay."""

from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
)

from gostream_spark.pysource import (
    TYPES,
    _SynthReader,
    _SynthStreamReader,
    ensure_registered,
)


def test_pushdown_narrows_generated_range():
    r = _SynthReader({"rows": "1000", "numpartitions": "4"})
    leftover = list(
        r.pushFilters(
            [
                GreaterThanOrEqual(("event_id",), 100),
                LessThan(("event_id",), 900),
                IsNotNull(("etype",)),  # not ours -> handed back to Spark
            ]
        )
    )
    assert (r.lo, r.hi) == (100, 900)
    assert len(leftover) == 1 and isinstance(leftover[0], IsNotNull)
    parts = r.partitions()
    ids = [i for p in parts for i in range(p.start, p.end)]
    assert ids == list(range(100, 900)), "generation must skip pruned rows"


def test_pushdown_equality_and_exclusive_bounds():
    r = _SynthReader({"rows": "50"})
    assert list(r.pushFilters([EqualTo(("event_id",), 7)])) == []
    assert (r.lo, r.hi) == (7, 8)
    r2 = _SynthReader({"rows": "50"})
    assert list(r2.pushFilters([GreaterThan(("event_id",), 10)])) == []
    assert r2.lo == 11


def test_partitions_cover_range_disjointly():
    r = _SynthReader({"rows": "103", "numpartitions": "8"})
    parts = r.partitions()
    ids = sorted(i for p in parts for i in range(p.start, p.end))
    assert ids == list(range(103))
    # degenerate: fully-pruned range still plans (one empty slice)
    r2 = _SynthReader({"rows": "10"})
    list(r2.pushFilters([GreaterThanOrEqual(("event_id",), 99)]))
    parts2 = r2.partitions()
    assert sum(p.end - p.start for p in parts2) == 0


def test_stream_reader_offsets_and_replay():
    sr = _SynthStreamReader({"rows": "10", "batch": "4"})
    off = sr.initialOffset()
    seen = []
    for _ in range(5):  # past exhaustion: empty batches, stable offset
        rows, off = sr.read(off)
        seen.extend(rows)
    assert [r[0] for r in seen] == list(range(10))
    assert off == {"pos": 10}
    replay = list(sr.readBetweenOffsets({"pos": 4}, {"pos": 8}))
    assert replay == seen[4:8], "replay-between-offsets must be exact"


def test_batch_read_end_to_end(spark):
    ensure_registered(spark)
    df = (
        spark.read.format("gostream_synth")
        .option("rows", 500)
        .option("numPartitions", 4)
        .load()
    )
    assert df.count() == 500
    row = df.filter(F.col("event_id") == 13).first()
    assert (row.bucket, row.etype, row.amount) == (13, TYPES[3], (13 * 13) % 997)


def _fake_rows(n, base=0):
    from pyspark.sql import Row

    return [Row(event_id=base + i, v=i % 3) for i in range(n)]


def test_batch_writer_two_phase_commit(tmp_path):
    import glob
    import os

    from gostream_spark.pysource import _JsonlWriter

    out = str(tmp_path / "sink")
    os.makedirs(out)
    w = _JsonlWriter({"path": out}, overwrite=True)
    m1 = w.write(iter(_fake_rows(5)))
    m2 = w.write(iter(_fake_rows(3, base=100)))
    # staged only — nothing visible in the sink root yet
    assert glob.glob(os.path.join(out, "*.jsonl")) == []
    w.commit([m1, m2])
    files = glob.glob(os.path.join(out, "*.jsonl"))
    assert len(files) == 2
    assert sum(1 for p in files for _ in open(p)) == 8
    assert not os.path.exists(os.path.join(out, "_staging"))


def test_batch_writer_abort_leaves_sink_untouched(tmp_path):
    import glob
    import os

    from gostream_spark.pysource import _JsonlWriter

    out = str(tmp_path / "sink")
    os.makedirs(out)
    w = _JsonlWriter({"path": out}, overwrite=False)
    m = w.write(iter(_fake_rows(4)))
    w.abort([m, None])
    assert glob.glob(os.path.join(out, "*.jsonl")) == []
    assert not os.path.exists(os.path.join(out, "_staging"))


def test_stream_writer_replayed_batch_is_idempotent(tmp_path):
    import glob
    import os

    from gostream_spark.pysource import _JsonlStreamWriter

    out = str(tmp_path / "sink")
    os.makedirs(out)
    w = _JsonlStreamWriter({"path": out})
    m = w.write(iter(_fake_rows(5)))
    w.commit([m], batchId=7)
    first = sorted(glob.glob(os.path.join(out, "batch-7-*.jsonl")))
    assert len(first) == 1
    # checkpoint-recovery replay of the same batch: new staged shard,
    # same batchId — the manifest marker must swallow the duplicate
    m2 = w.write(iter(_fake_rows(5)))
    w.commit([m2], batchId=7)
    assert sorted(glob.glob(os.path.join(out, "batch-7-*.jsonl"))) == first
    assert glob.glob(os.path.join(out, "_staging", "*")) == []


def test_pushdown_equivalence_property():
    """Property (hypothesis): for ANY combination of range/equality
    filters on event_id, the rows generated by the pruning reader
    equal the unpruned row set filtered after the fact — i.e.
    pushFilters is an optimization, never a semantics change."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from gostream_spark.pysource import _row

    bound = st.integers(min_value=-5, max_value=60)

    @settings(max_examples=200, deadline=None)
    @given(
        rows=st.integers(min_value=0, max_value=50),
        ge=st.none() | bound,
        lt=st.none() | bound,
        gt=st.none() | bound,
        le=st.none() | bound,
        eq=st.none() | bound,
    )
    def check(rows, ge, lt, gt, le, eq):
        filters = []
        if ge is not None:
            filters.append(GreaterThanOrEqual(("event_id",), ge))
        if lt is not None:
            filters.append(LessThan(("event_id",), lt))
        if gt is not None:
            filters.append(GreaterThan(("event_id",), gt))
        if le is not None:
            filters.append(LessThanOrEqual(("event_id",), le))
        if eq is not None:
            filters.append(EqualTo(("event_id",), eq))
        r = _SynthReader({"rows": str(rows), "numpartitions": "3"})
        leftover = list(r.pushFilters(list(filters)))
        assert leftover == [], "all event_id filters must be consumed"
        got = sorted(
            i for p in r.partitions() for i in range(p.start, p.end)
        )
        want = [
            i
            for i in range(rows)
            if (ge is None or i >= ge)
            and (lt is None or i < lt)
            and (gt is None or i > gt)
            and (le is None or i <= le)
            and (eq is None or i == eq)
        ]
        assert got == want
        # and the generated tuples are the deterministic formula rows
        for i in got[:3]:
            assert _row(i)[0] == i

    check()


def test_stream_checkpoint_recovery_exactly_once(spark, tmp_path):
    """End-to-end crash recovery across the full custom Python path:
    synthetic stream source (offset log) -> custom JSONL stream sink
    (manifest markers). The query is stopped mid-stream and restarted
    on the SAME checkpoint + sink; the restart replays the
    uncommitted batch (readBetweenOffsets) and the sink's manifest
    discards any duplicate — final contents must be every generated
    row exactly once."""
    import glob
    import json
    import os

    from gostream_spark.pysource import ensure_registered
    from gostream_spark.streaming.runner import _run_stream

    ensure_registered(spark)
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(out)

    def committed_rows():
        return sum(
            1
            for p in glob.glob(os.path.join(out, "batch-*.jsonl"))
            for _ in open(p)
        )

    # Generous deadlines: they only bound the wait (a fast run stops
    # as soon as the row target lands); a loaded CI box sharing cores
    # with other Spark jobs needs the headroom (this test once flaked
    # at 60 s under two concurrent sweep processes).
    def run_until_rows(n: int, timeout_sec: int) -> None:
        stream = (
            spark.readStream.format("gostream_synth")
            .option("rows", 2000)
            .option("batch", 200)
            .load()
            .select("event_id", "bucket", "amount")
        )
        _run_stream(
            stream,
            lambda w: w.format("gostream_jsonl").option("path", out),
            until=lambda: committed_rows() >= n,
            timeout_sec=timeout_sec,
            poll_sec=0.1,
            checkpoint=ckpt,
        )

    # crash mid-stream: some batches committed, one in flight
    run_until_rows(400, timeout_sec=180)
    assert committed_rows() >= 400, "expected partial progress before stop"

    run_until_rows(2000, timeout_sec=240)  # recovery: same checkpoint, same sink

    ids = sorted(
        json.loads(line)["event_id"]
        for p in glob.glob(os.path.join(out, "batch-*.jsonl"))
        for line in open(p)
    )
    assert len(ids) == 2000, f"expected exactly-once delivery, got {len(ids)} rows"
    assert ids == list(range(2000)), "every generated row exactly once"


def test_job_failure_mid_batch_keeps_sink_invisible_then_rerun_green(
    spark, tmp_path
):
    """END-TO-END failure injection through a real Spark job (r5
    verdict item #5): one task dies mid-write AFTER other tasks have
    finished staging their shards — the 2PC contract says the sink
    root must stay empty (partial output never visible), and an
    unmodified re-run over the same path must then succeed and show
    exactly the full row set."""
    import glob
    import os

    from pyspark.sql.types import LongType

    ensure_registered(spark)
    out = str(tmp_path / "sink")
    os.makedirs(out, exist_ok=True)

    bomb = F.udf(
        lambda v: (_ for _ in ()).throw(RuntimeError("injected task failure"))
        if v == 99
        else v,
        LongType(),
    )
    df = spark.range(0, 100, 1, 4).select(F.col("id").alias("event_id"))

    import pytest as _pytest

    with _pytest.raises(Exception, match="injected task failure"):
        (
            df.withColumn("event_id", bomb("event_id"))
            .write.format("gostream_jsonl")
            .option("path", out)
            .mode("append")
            .save()
        )
    # No shard escaped staging: the failed job is fully invisible.
    assert glob.glob(os.path.join(out, "*.jsonl")) == []

    # Replay without the bomb: same sink path, now commits atomically.
    df.write.format("gostream_jsonl").option("path", out).mode("append").save()
    files = glob.glob(os.path.join(out, "*.jsonl"))
    assert files, "committed run must publish shards"
    import json as _json

    rows = []
    for fp in files:
        with open(fp) as f:
            rows += [_json.loads(line)["event_id"] for line in f]
    assert sorted(rows) == list(range(100))
    # Staging left clean by the abort + the successful commit.
    assert not glob.glob(os.path.join(out, "_staging", "*"))


def test_read_between_offsets_returns_true_iterator():
    """The executor-side replay path type-checks its return: a list
    raises DATA_SOURCE_INVALID_RETURN_TYPE, but only when a restart
    actually replays an uncommitted batch (timing-dependent) — so pin
    the contract directly: readBetweenOffsets must return an
    ITERATOR, and the replayed slice must match regeneration."""
    from gostream_spark.pysource import _SynthStreamReader, _row

    r = _SynthStreamReader({"rows": 50, "batch": 10})
    out = r.readBetweenOffsets({"pos": 10}, {"pos": 20})
    assert iter(out) is out, "must be an iterator, not a list/sequence"
    assert list(out) == [_row(i) for i in range(10, 20)]


def test_stream_writer_crashed_publish_without_marker_is_swept(tmp_path):
    """The driver-loss window INSIDE commit: a crashed attempt that
    published shards but died before the atomic marker rename must
    not poison the replay — no marker means not committed, so the
    replayed commit sweeps the orphaned publishes and re-publishes
    exactly once. Also pins that the orphans are invisible to the
    manifest-driven committed-row reader."""
    import glob
    import os

    from gostream_spark.pysource import _JsonlStreamWriter
    from gostream_spark.queries.python_datasource import open_shards

    out = str(tmp_path / "sink")
    os.makedirs(out)
    w = _JsonlStreamWriter({"path": out})

    # Crashed attempt: publish WITHOUT the marker (exactly what a
    # driver death between os.replace and the marker rename leaves).
    m_dead = w.write(iter(_fake_rows(5)))
    orphan = os.path.join(
        out, f"batch-3-{os.path.basename(m_dead.staged)}"
    )
    os.replace(m_dead.staged, orphan)
    assert list(open_shards(out)) == []  # uncommitted => invisible

    # At-least-once redelivery of the same batch.
    m2 = w.write(iter(_fake_rows(5)))
    w.commit([m2], batchId=3)

    shards = glob.glob(os.path.join(out, "batch-3-*.jsonl"))
    assert len(shards) == 1 and shards[0] != orphan
    assert not os.path.exists(orphan), "orphaned publish must be swept"
    assert len(list(open_shards(out))) == 5  # exactly once, no dupes
    assert os.path.exists(os.path.join(out, "_batch-3.manifest"))
    assert not glob.glob(os.path.join(out, "_batch-3.manifest.tmp"))


def test_jsonl_stream_sink_survives_whole_driver_kill(spark, tmp_path):
    """Driver-loss at the STREAM level for the 2PC jsonl sink (the
    sink-side twin of test_streaming's matview driver-kill): a
    separate driver process (the ``jsonl`` scenario of
    tests/stream_crash_harness.py) hard-kills its JVM once two batch
    manifests have committed; a fresh process on the same checkpoint +
    sink dir must finish with EXACTLY the synthetic stream's rows
    committed — every event_id once, replayed batches deduplicated by
    their manifests."""
    import json

    from gostream_spark.queries.python_datasource import open_shards
    from tests.stream_crash_harness import launch

    rows = 3000
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    crashed = launch("jsonl", "crash", out, ckpt, rows)
    assert crashed.returncode != 0, (
        f"crash run must die\n{crashed.stdout}\n{crashed.stderr}"
    )
    committed_mid = [json.loads(ln) for ln in open_shards(out)]
    assert committed_mid, "crash run must leave committed batches"
    assert len(committed_mid) < rows, "halt must precede completion"

    recovered = launch("jsonl", "recover", out, ckpt, rows)
    assert recovered.returncode == 0, (
        f"recovery failed rc={recovered.returncode}\n"
        f"{recovered.stdout}\n{recovered.stderr}"
    )
    ids = [json.loads(ln)["event_id"] for ln in open_shards(out)]
    assert sorted(ids) == list(range(rows)), (
        f"exactly-once violated: {len(ids)} rows, "
        f"{len(set(ids))} distinct"
    )
