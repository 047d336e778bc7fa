"""User-defined Python DataSource (Spark 4 ``pyspark.sql.datasource``).

The reference architecture's "spout" is a user-authored source with
its own partitioning and replay semantics. Spark 4's Python DataSource
API is the idiomatic counterpart: a ``DataSource`` subclass declares a
schema, fans generation out across ``InputPartition``s (each executor
materializes ONLY its slice — nothing flows through the driver), and
can accept pushed filters so pruning happens at the source.

``SyntheticEventsDataSource`` here is deterministic integer arithmetic
over an id range, so every value is reproducible on any engine — the
DuckDB oracle replays the same formulas over ``range()`` and the
driver's hash check applies to a source that never touched disk.

Batch path: ``spark.read.format("gostream_synth").option("rows", N)``
— ``partitions()`` splits [0, N) into ``numPartitions`` contiguous
slices; ``pushFilters`` consumes ``event_id`` range predicates so
filtered reads generate only the admissible slice (source-level
predicate pushdown, the same contract parquet gives us).

Streaming path: ``spark.readStream.format("gostream_synth")`` via
``SimpleDataSourceStreamReader`` — offsets are row positions,
micro-batches are ``batch``-row slices, and ``readBetweenOffsets``
regenerates any slice exactly (deterministic replay = the recovery
contract a Kafka offset range provides).

Rows: event_id BIGINT, bucket INT, etype STRING, amount BIGINT with
  bucket = event_id % 16
  etype  = TYPES[event_id % 5]
  amount = (event_id * event_id) % 997
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

TYPES = ("view", "click", "cart", "purchase", "refund")

SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("bucket", IntegerType()),
        StructField("etype", StringType()),
        StructField("amount", LongType()),
    ]
)


def _row(i: int) -> tuple:
    return (i, i % 16, TYPES[i % 5], (i * i) % 997)


class _Slice(InputPartition):
    def __init__(self, start: int, end: int):
        self.start, self.end = start, end


class _SynthReader(DataSourceReader):
    def __init__(self, options: dict):
        self.rows = int(options.get("rows", 1000))
        self.num_partitions = int(options.get("numpartitions", 4))
        self.lo, self.hi = 0, self.rows  # [lo, hi) after pushdown

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Consume event_id range/equality predicates by narrowing the
        generated id range; yield back anything we can't handle so
        Spark re-applies it above the source."""
        for f in filters:
            col = f.attribute[0] if hasattr(f, "attribute") else None
            if col != "event_id" or not hasattr(f, "value") or not isinstance(
                f.value, int
            ):
                yield f
            elif isinstance(f, GreaterThanOrEqual):
                self.lo = max(self.lo, f.value)
            elif isinstance(f, GreaterThan):
                self.lo = max(self.lo, f.value + 1)
            elif isinstance(f, LessThan):
                self.hi = min(self.hi, f.value)
            elif isinstance(f, LessThanOrEqual):
                self.hi = min(self.hi, f.value + 1)
            elif isinstance(f, EqualTo):
                self.lo = max(self.lo, f.value)
                self.hi = min(self.hi, f.value + 1)
            else:
                yield f

    def partitions(self) -> Sequence[InputPartition]:
        lo, hi = self.lo, max(self.lo, self.hi)
        n = max(1, self.num_partitions)
        step = max(1, -(-(hi - lo) // n)) if hi > lo else 1
        return [
            _Slice(s, min(s + step, hi)) for s in range(lo, hi, step)
        ] or [_Slice(lo, lo)]

    def read(self, partition: _Slice) -> Iterator[tuple]:
        for i in range(partition.start, partition.end):
            yield _row(i)


class _SynthStreamReader(SimpleDataSourceStreamReader):
    """Row-position offsets; each micro-batch is the next ``batch``-row
    slice until ``rows`` is exhausted, then empty batches forever.
    Regeneration is pure arithmetic, so replay-between-offsets (crash
    recovery) is exact."""

    def __init__(self, options: dict):
        self.rows = int(options.get("rows", 1000))
        self.batch = int(options.get("batch", 100))

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        lo = int(start["pos"])
        hi = min(lo + self.batch, self.rows)
        # list_iterator, neither a generator nor a bare list: Spark's
        # prefetching cache copy.copy()s the returned iterator when
        # planning partitions (generators aren't copyable), and on the
        # EXHAUSTED-stream path (end == start) it calls next() on it
        # expecting StopIteration (a bare list raised TypeError there
        # — a timing-dependent flake under the continuous trigger,
        # caught by the r8 sweep).
        return iter([_row(i) for i in range(lo, hi)]), {"pos": hi}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        # MUST be an iterator, not a list: this path runs on the
        # EXECUTOR during crash-recovery replay, where the Python
        # data-source worker type-checks the return
        # (DATA_SOURCE_INVALID_RETURN_TYPE on a list). read() above is
        # different — it runs driver-side and its result is copied for
        # prefetch, which requires the concrete list. The mismatch only
        # surfaces when a restart actually replays an uncommitted
        # batch, which is timing-dependent — caught by
        # test_stream_checkpoint_recovery_exactly_once under load.
        return iter([_row(i) for i in range(int(start["pos"]), int(end["pos"]))])


class _FileCommit(WriterCommitMessage):
    """Per-task commit message: the staged shard path + row count.
    Must be picklable (travels executor -> driver)."""

    def __init__(self, staged: str, rows: int):
        self.staged, self.rows = staged, rows


class _JsonlWriter(DataSourceWriter):
    """Two-phase-commit JSONL sink: each task streams its partition to
    a staged shard (``_staging/``), returns the path as its commit
    message, and ONLY the driver-side ``commit`` — which runs iff
    every task succeeded — moves shards into the sink root. A failed
    job leaves the sink untouched (``abort`` sweeps the staging dir).
    This is the same visibility protocol a FileOutputCommitter gives
    parquet writes. Local-filesystem paths here; on a cluster the
    staging/rename pair maps onto an object-store multipart commit."""

    def __init__(self, options: dict, overwrite: bool):
        self.path = options["path"]
        self.staging = os.path.join(self.path, "_staging")
        self.overwrite = overwrite

    def write(self, iterator) -> _FileCommit:
        os.makedirs(self.staging, exist_ok=True)
        staged = os.path.join(self.staging, f"shard-{uuid.uuid4().hex}.jsonl")
        n = 0
        with open(staged, "w") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict(), default=str, sort_keys=True) + "\n")
                n += 1
        return _FileCommit(staged, n)

    def commit(self, messages) -> None:
        if self.overwrite:
            for old in glob.glob(os.path.join(self.path, "*.jsonl")):
                os.remove(old)
        for m in messages:
            if m is not None:
                os.replace(
                    m.staged, os.path.join(self.path, os.path.basename(m.staged))
                )
        shutil.rmtree(self.staging, ignore_errors=True)

    def abort(self, messages) -> None:
        shutil.rmtree(self.staging, ignore_errors=True)


class _JsonlStreamWriter(DataSourceStreamWriter):
    """Streaming flavor: per-micro-batch two-phase commit. Shards are
    published under a ``batch-<id>-`` prefix and each committed batch
    drops a ``_batch-<id>.manifest`` marker; a batch REPLAYED after
    checkpoint recovery sees its marker and discards the duplicate
    staged shards — the idempotence that turns at-least-once replay
    into exactly-once sink contents."""

    def __init__(self, options: dict):
        self.path = options["path"]
        self.staging = os.path.join(self.path, "_staging")

    def write(self, iterator) -> _FileCommit:
        os.makedirs(self.staging, exist_ok=True)
        staged = os.path.join(self.staging, f"shard-{uuid.uuid4().hex}.jsonl")
        n = 0
        with open(staged, "w") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict(), default=str, sort_keys=True) + "\n")
                n += 1
        return _FileCommit(staged, n)

    def commit(self, messages, batchId: int) -> None:
        marker = os.path.join(self.path, f"_batch-{batchId}.manifest")
        if os.path.exists(marker):  # replayed batch: drop duplicates
            for m in messages:
                if m is not None and os.path.exists(m.staged):
                    os.remove(m.staged)
            return
        # DRIVER-LOSS window: a crashed earlier attempt at THIS batch
        # may have published some shards without reaching the marker
        # (shard names are uuid-fresh per attempt, so a naive replay
        # would duplicate them). No marker => the batch is not
        # committed; sweep the orphaned publishes and redo them.
        for orphan in glob.glob(os.path.join(self.path, f"batch-{batchId}-*")):
            os.remove(orphan)
        names = []
        for m in messages:
            if m is not None:
                name = f"batch-{batchId}-{os.path.basename(m.staged)}"
                os.replace(m.staged, os.path.join(self.path, name))
                names.append(name)
        # Marker write is the COMMIT POINT, so it must be atomic:
        # write-then-rename (a torn marker would half-commit the batch).
        tmp = marker + ".tmp"
        with open(tmp, "w") as f:
            f.write("\n".join(names))
        os.replace(tmp, marker)

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.staged):
                os.remove(m.staged)


class JsonlSinkDataSource(DataSource):
    """Writer-only source: ``format("gostream_jsonl")`` on a batch
    writer or on the stream runner's sink."""

    @classmethod
    def name(cls) -> str:
        return "gostream_jsonl"

    def writer(self, schema: StructType, overwrite: bool) -> _JsonlWriter:
        return _JsonlWriter(self.options, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool) -> _JsonlStreamWriter:
        return _JsonlStreamWriter(self.options)


class SyntheticEventsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "gostream_synth"

    def schema(self) -> StructType:
        return SCHEMA

    def reader(self, schema: StructType) -> _SynthReader:
        return _SynthReader(self.options)

    def simpleStreamReader(self, schema: StructType) -> _SynthStreamReader:
        return _SynthStreamReader(self.options)


def ensure_registered(spark) -> None:
    """Idempotently register the source with this session, and enable
    Python-source filter pushdown (off by default; a reader that
    implements ``pushFilters`` is REJECTED at planning time unless the
    conf is on). Runtime-settable, so it works under any
    caller-provided session, e.g. the grading driver's."""
    pd_key = "spark.sql.python.filterPushdown.enabled"
    if spark.conf.get(pd_key, None) != "true":
        spark.conf.set(pd_key, "true")
    key = "_gostream_synth_registered"
    if not getattr(spark, key, False):
        spark.dataSource.register(SyntheticEventsDataSource)
        spark.dataSource.register(JsonlSinkDataSource)
        setattr(spark, key, True)
