"""Streaming execution helpers (SURVEY.md §2.1 S4/S5/S6, §2.7 T7/T8).

Every stream the engine runs goes through ONE lifecycle,
``_run_stream``: fresh (or caller-owned) checkpoint, trigger choice
(``availableNow`` to process everything currently available and stop
— the deterministic harness that makes streaming results collectable
and oracle-checkable — or a processing-time trigger bounded by an
observed-output predicate), a start that pins the state width and,
on a local checkpoint, Spark's FileSystem checkpoint manager (whose
renames fork no ``readlink``: ``_LOCAL_CHECKPOINT_MANAGER``) for the
length of ``start()`` only (``_start_pins``), one bounded wait that
polls the state-memory guard, then progress capture, stop and removal
of a fresh checkpoint. The public runners differ only in their sink:
``run_available_now``/``run_until`` write an in-memory table (S4)
and return its contents; ``run_foreach_batch`` hands each
micro-batch to a function, and ``run_foreach_batch_parquet``/
``run_foreach_batch_split`` are foreachBatch→parquet writers (S5/S6).

Checkpoints live under ``.tmp/`` in the repo (gitignored); every run
gets a fresh checkpoint + query name so reruns in one session never
collide, and the fresh checkpoint is removed however the run ends.
The one exception is a caller-owned checkpoint passed to
``_run_stream`` (the crash/restart tests): that directory is resumed
if it holds an earlier run's offsets and state, and never removed.
The ``sink-*`` directories (``_sink_dir``) back the DataFrames the
foreachBatch runners, the file-sink streaming queries and the file
round-trip queries return, so they stay until the interpreter exits;
each call gets a fresh one. Both kinds of scratch directory carry
their owner's pid, and ``_sweep_stale`` removes only those whose
owner is gone; it also removes the pid-less ``pysink-*`` and
``src-*`` directories older versions left, once they are 6 h old.

Every stream runs its stateful operators at ``STATE_PARTITIONS``
(unless a caller passes another width), whatever the session's
``spark.sql.shuffle.partitions`` is: the reason for the number is
kept at the constant.
"""

from __future__ import annotations

import atexit
import itertools
import json
import os
from collections import deque
import shutil
import threading
import time
import uuid
import warnings
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

_TMP_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), ".tmp")
_counter = itertools.count()

# Per-process capture of completed streams' micro-batch progress
# (VERDICT r8: driver-side streaming bench readings need attributable
# batch-level evidence — wall-clock + a CPU probe cannot decompose a
# slow streaming trial into trigger/addBatch/state-commit time). Every
# stream appends one entry when it finishes; bench.py clears
# the deque before a timed trial and summarizes it after. The maxlen
# bounds memory in long-lived non-bench processes (r9 advice: a full
# pytest session runs hundreds of streaming queries and nothing else
# clears the capture) — consumers only ever read the most recent
# trial's streams, so evicting the oldest entries loses nothing.
RECENT_PROGRESS: deque[dict] = deque(maxlen=64)


def _capture_progress(q) -> None:
    """Best-effort: stash the finished query's StreamingQueryProgress
    list (parsed JSON) for the caller. Never raises — progress capture
    must not fail a result-bearing run."""
    try:
        RECENT_PROGRESS.append(
            {
                "name": q.name,
                "batches": [json.loads(p.json) for p in q.recentProgress],
            }
        )
    except Exception:
        pass


# --- State-memory pressure guard (VERDICT r12 #3) --------------------
#
# The measured in-heap state-store failure mode (PERF.md flip-point
# probe) is a BISTABLE cliff: batches commit at full speed through
# ~0.7x heap, then one commit either stalls forever or completes +20%
# with 3.5x GC — per-batch latency gives NO early warning. The only
# usable gauge is `stateOperators.memoryUsedBytes`, which grows
# linearly (160-235 B/row) with no saturation. This guard turns the
# measured flip rule — migrate to RocksDBStateStoreProvider once state
# passes ~0.5x heap — into a runtime check: every stream polls the
# query's progress while it runs and emits ONE RuntimeWarning per
# query past the threshold. It is advisory only and never fails a
# result-bearing run.
#
# Scope notes: `memoryUsedBytes` is the loaded-store figure reported
# by the provider — for the default HDFS-backed map store that is the
# on-heap state this cliff is about; for RocksDB it reports native
# memtable/cache usage, which does NOT contend with -Xmx, so the
# comparison is conservative there (a warning under RocksDB means
# "budget memoryOverhead", not "you will OOM"). `Runtime.maxMemory`
# is the DRIVER heap; in local[n] (this harness) driver==executor so
# it is exact, on a real cluster executors size their own heaps and
# this guard's driver-side reading is a same-order proxy — the flip
# decision there should read the same two numbers from executor
# metrics.
STATE_MEMORY_GUARD_THRESHOLD = 0.5


def state_pressure_warning(
    progress: dict | None, max_heap_bytes: int
) -> str | None:
    """Pure core of the guard (unit-testable on synthetic payloads):
    given one parsed StreamingQueryProgress dict, return a warning
    message if total stateOperators.memoryUsedBytes exceeds
    ``STATE_MEMORY_GUARD_THRESHOLD`` x ``max_heap_bytes``, else None."""
    threshold = STATE_MEMORY_GUARD_THRESHOLD
    if not progress or max_heap_bytes <= 0:
        return None
    used = sum(
        o.get("memoryUsedBytes", 0) or 0
        for o in (progress.get("stateOperators") or [])
    )
    if used <= threshold * max_heap_bytes:
        return None
    rows = sum(
        o.get("numRowsTotal", 0) or 0
        for o in (progress.get("stateOperators") or [])
    )
    return (
        f"streaming state is {used / 1048576:.0f} MiB = "
        f"{used / max_heap_bytes:.0%} of the {max_heap_bytes / 1048576:.0f}"
        f" MiB JVM heap ({rows} state rows), past the "
        f"{threshold:.0%} flip point. The in-heap state store fails as "
        "a no-warning bistable cliff at ~0.7x heap (PERF.md flip-point "
        "probe); switch spark.sql.streaming.stateStore.providerClass "
        "to RocksDBStateStoreProvider (+changelog checkpointing) and "
        "budget spark.executor.memoryOverhead for its native footprint."
    )


def _max_heap_bytes(spark) -> int:
    """Best-effort JVM max heap; 0 (guard disabled) if the gateway is
    unavailable."""
    try:
        return int(
            spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
            .maxMemory()
        )
    except Exception:  # noqa: BLE001 — guard must never fail a run
        return 0


def _poll_state_guard(q, max_heap_bytes: int, warned: set) -> None:
    """Check the query's latest progress against the flip threshold;
    warn once per query. Never raises."""
    if not max_heap_bytes or q.name in warned:
        return
    try:
        lp = q.lastProgress
        msg = state_pressure_warning(
            json.loads(lp) if isinstance(lp, str) else lp, max_heap_bytes
        )
        if msg:
            warned.add(q.name)
            warnings.warn(
                f"[state-memory guard] query {q.name!r}: {msg}",
                RuntimeWarning,
                stacklevel=3,
            )
    except Exception:  # noqa: BLE001
        pass


# The state width of every stream. Spark fixes a stateful query's
# state partitions from spark.sql.shuffle.partitions when it starts
# (the value goes into the offset log, and a restart keeps it); AQE
# never coalesces them, and each state partition pays a fixed store
# open/commit on every micro-batch. So the width is a
# per-batch cost, and it follows the state keyspace, not the batch
# shuffle width of the session. Measured on this engine:
# - r7 (PERF.md "Streaming fixed-overhead floor"): about 20 ms per
#   partition per batch; streaming_tumbling_counts at sf0.1 1.24 s
#   at 32 partitions, 0.94 s at 8.
# - r8 (PERF.md "Stream-stream join & continuous-trigger state
#   sizing"): a stream-stream join opens four stores per partition;
#   at sf0.01 the joins fell from ~7.5 s at 32 to ~3 s at 8.
# - r11 (PERF.md streaming decade): applyInPandasWithState at 32
#   oversubscribed a 32-core host (wall 24.2 s against 16.4 s at 8).
# - r17 (PERF.md "4-vs-8 state partitions"): 4 and 8 are equal at
#   sf0.1 and sf1, and 16 and 32 lose at both.
# - One width for every stream (4 vCPUs, sf0.1, best of 2, session
#   at 32 vs 8): the 17 stateful streams that used to inherit the
#   session's width took 54.0 s together at 32 and 28.7 s at 8
#   (each 1.5-2.7x); stateless foreachBatch streams run the same at
#   either width; pysource_stream_counts, once pinned to 4, runs a
#   median 4.0 s at 8 against 4.3 s at 4.
# A fresh two-scale A/B is what may move this number.
STATE_PARTITIONS = 8

# Spark (4.1) fixes a stream's spark.sql.shuffle.partitions inside
# start(): the StreamExecution constructor, which start() runs,
# clones the session (sparkSessionForStream =
# sparkSession.cloneSession()), and every batch plans in that clone
# and records the width in the offset log. So the width needs the
# session-global conf only across start(). The lock keeps concurrent
# streams in one session from setting it inside each other's
# [set -> start() -> restore] window (test_runner_concurrent_queries);
# their batches overlap freely (test_stream_startups_overlap).
_pin_lock = threading.Lock()

# The checkpoint file manager of a stream whose checkpoint is a local
# path. Spark's default there, FileContextBasedCheckpointFileManager,
# renames each state delta and log file through
# AbstractFileSystem.rename, which calls
# RawLocalFileSystem.getFileLinkStatus twice, and without the
# native-hadoop library each call forks a `readlink` process. This
# manager's 2-argument FileSystem.rename is a plain POSIX rename. On
# a catch-up drain of 81 files at 8 state partitions (4 vCPUs) the
# drain forked 176 `readlink` of its 237 processes, and its summed
# state commitTimeMs fell from 1021 to 77 ms (PERF.md "State commit:
# FileContext rename forks"). Both managers write the same checkpoint
# files, checksums included, so a checkpoint resumes under either.
# HDFS and object stores keep Spark's default.
_LOCAL_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _start_pins(checkpoint: str, state_partitions: int) -> dict[str, str]:
    """The session confs a stream's ``start()`` runs under: its state
    width, and on a local checkpoint (no URI scheme, or ``file``) the
    FileSystem checkpoint manager. Both are fixed in the session
    clone ``start()`` makes. The file-listing threshold cannot be
    pinned here: the file source lists each micro-batch in the session
    the stream was read in, so ``get_spark`` sets it for the session's
    lifetime."""
    pins = {"spark.sql.shuffle.partitions": str(state_partitions)}
    if urlparse(checkpoint).scheme in ("", "file"):
        pins["spark.sql.streaming.checkpointFileManagerClass"] = (
            _LOCAL_CHECKPOINT_MANAGER
        )
    return pins


def _scratch(kind: str) -> str:
    """A fresh ``<kind>-<pid>-<hex>`` directory under ``.tmp/``; the
    pid names the process that owns it (see ``_sweep_stale``)."""
    _sweep_stale()
    path = os.path.join(
        _TMP_ROOT, f"{kind}-{os.getpid()}-{uuid.uuid4().hex[:12]}"
    )
    os.makedirs(path, exist_ok=True)
    return path


def _sink_dir() -> str:
    """A fresh sink directory, removed at interpreter exit: the
    foreachBatch runners, the streaming queries and the file
    round-trip queries return DataFrames that read it lazily, so it
    cannot go earlier. ``_sweep_stale`` removes those of a killed
    process."""
    path = _scratch("sink")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


_STALE_AGE_SEC = 6 * 3600


def _stale(entry: str) -> bool:
    """Whether the scratch dir ``entry`` has no owner left: its pid
    names no process, or, for a name without a pid, it is over 6 h
    old. A live owner may still read its sinks lazily, however old."""
    pid, sep, _ = entry.partition("-")[2].partition("-")
    if sep and pid.isdigit():
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            return True
        except OSError:  # alive, but another user's
            pass
        return False
    return time.time() - os.path.getmtime(
        os.path.join(_TMP_ROOT, entry)
    ) > _STALE_AGE_SEC


def _sweep_stale() -> None:
    """Best-effort removal of the scratch dirs of processes that were
    killed before they could remove their own, and of the pid-less
    legacy ones past ``_STALE_AGE_SEC``."""
    try:
        for entry in os.listdir(_TMP_ROOT):
            # pysink-/src-: pid-less per-sf_dir sinks of older versions;
            # nothing writes them any more, so they go by age.
            if entry.startswith(("ckpt-", "sink-", "pysink-", "src-")) and _stale(entry):
                shutil.rmtree(os.path.join(_TMP_ROOT, entry), ignore_errors=True)
    except OSError:
        pass


def _run_stream(
    sdf: DataFrame,
    sink,
    until=None,
    timeout_sec: float = 300,
    state_partitions: int = STATE_PARTITIONS,
    poll_sec: float = 0.25,
    trigger_ms: int = 100,
    checkpoint: str | None = None,
) -> None:
    """The one stream lifecycle. ``sink(writer) -> writer`` sets up the
    sink on ``sdf.writeStream``; this adds the checkpoint and the
    trigger, starts the query under ``_start_pins`` (its
    ``state_partitions`` state partitions and, on a local checkpoint,
    the FileSystem checkpoint manager: the session confs are set
    across ``start()`` under ``_pin_lock``, then restored, or unset if
    they were unset), waits, and always captures progress and stops
    the query.

    Without ``checkpoint`` the run gets a fresh ``.tmp/ckpt-*``
    directory that is removed on every exit path, failures included.
    With ``checkpoint`` (a caller-owned path) the query starts from or
    resumes that directory — offsets, commits and state of earlier
    runs — and the runner never removes it: the restart half of the
    exactly-once contract.

    Without ``until`` the trigger is ``availableNow`` and the wait
    ends when the query terminates. With ``until`` (a no-argument
    predicate over the sink) the trigger is ``processingTime`` every
    ``trigger_ms`` and the wait ends when ``until()`` holds, checked
    every ``poll_sec`` from right after ``start()``, so a predicate
    must read False on an empty sink. Either way this is the one
    wait, and it runs in bounded slices so the state-memory guard
    sees each committed batch's progress while the query is still
    running (the cliff gives no latency early-warning — the gauge has
    to be read before the stalling commit, not after termination), a
    failed query re-raises its exception, and ``TimeoutError`` is
    raised after ``timeout_sec`` rather than returning a partial
    sink. Each availableNow slice is clamped to the remaining
    deadline so a ``timeout_sec`` < 2 is honored (ADVICE r13)."""
    spark = sdf.sparkSession
    ckpt = checkpoint or _scratch("ckpt")
    trigger = (
        {"availableNow": True}
        if until is None
        else {"processingTime": f"{trigger_ms} milliseconds"}
    )
    q = None
    try:
        with _pin_lock:
            pins = _start_pins(ckpt, state_partitions)
            prev = {key: spark.conf.get(key, None) for key in pins}
            for key, value in pins.items():
                spark.conf.set(key, value)
            try:
                q = (
                    sink(sdf.writeStream)
                    .option("checkpointLocation", ckpt)
                    .trigger(**trigger)
                    .start()
                )
            finally:
                for key, value in prev.items():
                    if value is None:
                        spark.conf.unset(key)
                    else:
                        spark.conf.set(key, value)
        max_heap = _max_heap_bytes(spark)
        warned: set = set()
        deadline = time.time() + timeout_sec
        while not (
            until()
            if until is not None
            else q.awaitTermination(
                min(2.0, max(deadline - time.time(), 0.1))
            )
        ):
            if time.time() > deadline:
                raise TimeoutError(
                    f"streaming query {q.name or q.id} not done after "
                    f"{timeout_sec}s; refusing to return a partial sink"
                )
            if q.exception() is not None:
                raise q.exception()
            _poll_state_guard(q, max_heap, warned)
            if until is not None:
                time.sleep(poll_sec)
        _poll_state_guard(q, max_heap, warned)
    finally:
        if q is not None:
            _capture_progress(q)
            q.stop()
        if checkpoint is None:
            shutil.rmtree(ckpt, ignore_errors=True)


def _run_to_memory(
    sdf: DataFrame, output_mode: str, predicate=None, **run
) -> DataFrame:
    """Memory-sink stream (S4) whose contents come back as a batch
    DataFrame: ``_run_stream`` with ``until`` = ``predicate`` over the
    sink table, if given."""
    spark = sdf.sparkSession
    name = f"gs_mem_{next(_counter)}_{uuid.uuid4().hex[:8]}"
    _run_stream(
        sdf,
        lambda w: w.format("memory").queryName(name).outputMode(output_mode),
        until=None
        if predicate is None
        else lambda: predicate(spark.table(name)),
        **run,
    )
    # The returned DataFrame's plan holds the memory sink itself, so
    # it stays readable after the temp view is dropped; dropping the
    # view means the driver keeps the sink rows only while that
    # DataFrame lives, not for the session lifetime across repeated
    # harness runs.
    result = spark.table(name)
    spark.catalog.dropTempView(name)
    return result


def run_available_now(
    sdf: DataFrame,
    output_mode: str = "append",
    timeout_sec: int = 300,
    state_partitions: int = STATE_PARTITIONS,
) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink (S4)
    and return the sink's contents as a batch DataFrame.

    output_mode exercises T8: 'append' for stateless/dedup pipelines,
    'complete' for aggregations, 'update' for stateful per-key
    emission (the memory sink then holds one row per update — callers
    aggregate to the latest). availableNow (T7) processes all
    currently-available input, possibly across several micro-batches,
    then stops.

    ``state_partitions`` is the query's state width: by default
    ``STATE_PARTITIONS``, whose comment keeps the measurements behind
    it. Fresh checkpoint per run, so the width is always the one
    given here.

    Like every stream, the run polls the state-memory guard: one
    RuntimeWarning if state passes ``STATE_MEMORY_GUARD_THRESHOLD``
    (0.5x) of the JVM heap — the measured provider-flip point (see
    the guard's module comment). Advisory only; never fails the run.

    Concurrency-safe: Spark fixes the width when ``start()`` clones
    the session, and ``_pin_lock`` is held from conf-set to
    conf-restore around that call, so N queries with different pins
    can run concurrently in one session, each consumes its own
    (tests/test_streaming.py::test_runner_concurrent_queries), and
    their batches overlap (test_stream_startups_overlap).
    """
    return _run_to_memory(
        sdf,
        output_mode,
        timeout_sec=timeout_sec,
        state_partitions=state_partitions,
    )


def run_until(
    sdf: DataFrame,
    predicate,
    output_mode: str = "update",
    timeout_sec: int = 120,
    poll_sec: float = 0.25,
    trigger_ms: int = 100,
    state_partitions: int = STATE_PARTITIONS,
) -> DataFrame:
    """Drive a streaming DataFrame with a continuous processing-time
    trigger until ``predicate(sink_df) -> bool`` holds, then stop and
    return the sink contents.

    Exists because ``availableNow`` CANNOT terminate a
    ``ProcessingTimeTimeout`` stateful query: Spark's
    FlatMapGroupsWithStateExec reports ``shouldRunAnotherBatch=True``
    unconditionally under that timeout conf (it cannot prove no timer
    will fire), so the availableNow stop condition is never reached
    and the query livelocks on no-data micro-batches. Timer-driven
    pipelines are open-ended by nature; this harness bounds them by
    OBSERVED OUTPUT instead of input exhaustion — the same way a
    production deploy bounds them by monitoring, not termination.
    Raises TimeoutError if the predicate is not satisfied within
    ``timeout_sec``.

    ``state_partitions`` is as in ``run_available_now`` — and
    matters MORE here: the continuous trigger runs many more
    micro-batches, each paying the per-partition store floor.
    """
    return _run_to_memory(
        sdf,
        output_mode,
        predicate,
        timeout_sec=timeout_sec,
        poll_sec=poll_sec,
        trigger_ms=trigger_ms,
        state_partitions=state_partitions,
    )


def run_foreach_batch(sdf: DataFrame, fn, timeout_sec: int = 300) -> None:
    """Drive the stream to completion (availableNow) through
    ``foreachBatch(fn)``: ``fn(batch_df, batch_id)`` gets each
    micro-batch with the full batch API — the arbitrary-terminal-bolt
    escape hatch. The sink is whatever ``fn`` writes."""
    _run_stream(sdf, lambda w: w.foreachBatch(fn), timeout_sec=timeout_sec)


def run_foreach_batch_parquet(
    sdf: DataFrame, out_dir: str | None = None, timeout_sec: int = 300
) -> tuple[SparkSession, str]:
    """S5/S6: drive the stream through foreachBatch into a parquet
    sink (append per micro-batch). Returns (session, sink path) so the
    caller can re-read the materialized output. A sink the runner
    allocates (no ``out_dir``) is removed at interpreter exit.

    Delivery note: plain append per batch is AT-LEAST-ONCE under
    mid-run batch retry (no batch-id manifest); safe here only
    because every call uses a FRESH checkpoint and a failed run
    raises instead of returning a partial sink. Patterns that must
    survive replay use the batch-id-stamped writers instead
    (`make_matview_merger`, the gostream_jsonl 2PC sink)."""
    out = out_dir or _sink_dir()

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out)

    run_foreach_batch(sdf, write_batch, timeout_sec)
    return sdf.sparkSession, out


def run_foreach_batch_split(
    sdf: DataFrame, predicate, timeout_sec: int = 300
) -> tuple[SparkSession, str, str]:
    """S6 side-outputs: route each micro-batch to TWO parquet sinks by
    a predicate — the Storm/Flink multi-stream (side-output) pattern.
    The batch is persisted once per trigger so the two filtered
    writes share a single upstream computation instead of re-running
    the stream transformations twice. Returns (session, main_path,
    side_path)."""
    main_out, side_out = _sink_dir(), _sink_dir()

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # Idempotent per-batch writes: the two sink writes are NOT one
        # atomic commit, so a crash between them followed by
        # at-least-once replay would duplicate the main sink under
        # mode("append"). Writing each batch to its own
        # batch=<id> subdirectory with overwrite makes replay
        # overwrite-in-place instead — the standard foreachBatch
        # idempotence recipe (keyed on batchId).
        batch_df.persist()
        try:
            batch_df.filter(~predicate(batch_df)).write.mode("overwrite").parquet(
                os.path.join(main_out, f"batch={batch_id}")
            )
            batch_df.filter(predicate(batch_df)).write.mode("overwrite").parquet(
                os.path.join(side_out, f"batch={batch_id}")
            )
        finally:
            batch_df.unpersist()

    run_foreach_batch(sdf, write_batch, timeout_sec)
    return sdf.sparkSession, main_out, side_out
