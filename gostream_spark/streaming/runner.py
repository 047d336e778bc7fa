"""Streaming execution helpers (SURVEY.md §2.1 S4/S5/S6, §2.7 T7/T8).

Every stream the engine runs goes through ONE lifecycle,
``_run_stream``: fresh checkpoint, trigger choice (``availableNow``
to process everything currently available and stop — the
deterministic harness that makes streaming results collectable and
oracle-checkable — or a processing-time trigger bounded by an
observed-output predicate), start under the startup lock, a bounded
wait that polls the state-memory guard, then progress capture, stop
and checkpoint removal. The public runners differ only in their
sink: ``run_available_now``/``run_until`` write an in-memory table
(S4) and return its contents; ``run_foreach_batch`` hands each
micro-batch to a function, and ``run_foreach_batch_parquet``/
``run_foreach_batch_split`` are foreachBatch→parquet writers (S5/S6).

Checkpoints live under ``.tmp/`` in the repo (gitignored); every run
gets a fresh checkpoint + query name so reruns in one session never
collide.
"""

from __future__ import annotations

import itertools
import json
import os
from collections import deque
import shutil
import threading
import time
import uuid
import warnings

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


# Guards the [conf-pin -> start -> first-batch-commit] window so
# CONCURRENT streaming queries in one session each consume their OWN
# state_partitions pin. spark.sql.shuffle.partitions is session-global
# and a stateful query resolves it during batch-0 planning (recording
# it in the offset log for every later batch and restart) — without
# the lock, query B's pin could land between query A's set and A's
# batch-0 plan. The lock serializes only startup; continuous-trigger
# queries overlap freely from batch 1 on
# (test_runner_concurrent_queries). Caveat: for availableNow
# SINGLE-batch queries, lastProgress only appears after the query's
# only batch commits, so the lock is held for that query's entire run
# (bounded by the 120 s wait) and concurrent availableNow starts are
# effectively serialized — accepted, since every registered
# availableNow query commits its batch in well under the bound and
# correctness (each batch-0 plan inside its own conf window) is what
# the lock exists for.
_pin_lock = threading.Lock()


def _start_with_pin(spark, state_partitions: int | None, start_fn):
    """Start a streaming query under the state-partition pin protocol:
    serialize [set conf (pinned only), start, wait for the first
    progress event (batch 0 committed, partition count durably in the
    offset log) or early termination], restoring the session conf
    before releasing. Returns the started query.

    UNPINNED starts take the lock too (r9 advice): batch-0 planning
    reads the session-global spark.sql.shuffle.partitions, so an
    unpinned query started concurrently with a pinned one could
    otherwise plan batch 0 while the conf holds the OTHER query's pin
    and durably record the wrong partition count in its offset log.
    Holding the lock until the first progress event keeps every
    query's batch-0 plan inside its own conf window; queries overlap
    freely from batch 1 on. Caveat (documented, accepted): the 120 s
    bounded wait can release the lock before a pathologically slow
    batch 0 plans — at that point the window is no longer guaranteed,
    but a batch 0 slower than 120 s has already failed the latency
    bar this runner is sized for."""
    with _pin_lock:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        if state_partitions is not None:
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(state_partitions)
            )
        try:
            q = start_fn()
            # Bounded wait: availableNow on an empty source can finish
            # with no progress event; a failed query deactivates.
            deadline = time.time() + 120
            while (
                q.lastProgress is None
                and q.isActive
                and time.time() < deadline
            ):
                time.sleep(0.05)
            return q
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def _scratch(kind: str) -> str:
    _sweep_stale()
    path = os.path.join(_TMP_ROOT, f"{kind}-{uuid.uuid4().hex[:12]}")
    os.makedirs(path, exist_ok=True)
    return path


_STALE_AGE_SEC = 6 * 3600


def _sweep_stale() -> None:
    """Best-effort removal of scratch dirs older than 6h so repeated
    harness runs don't accumulate checkpoints/sinks in .tmp."""
    try:
        for entry in os.listdir(_TMP_ROOT):
            if not entry.startswith(("ckpt-", "sink-")):
                continue
            p = os.path.join(_TMP_ROOT, entry)
            if time.time() - os.path.getmtime(p) > _STALE_AGE_SEC:
                shutil.rmtree(p, ignore_errors=True)
    except OSError:
        pass


def _run_stream(
    sdf: DataFrame,
    sink,
    until=None,
    timeout_sec: float = 300,
    state_partitions: int | None = None,
    poll_sec: float = 0.25,
    trigger_ms: int = 100,
) -> None:
    """The one stream lifecycle. ``sink(writer) -> writer`` sets up the
    sink on ``sdf.writeStream``; this adds a fresh checkpoint and the
    trigger, starts the query under ``_start_with_pin``, waits, and
    always captures progress and stops the query.

    Without ``until`` the trigger is ``availableNow`` and the wait
    ends when the query terminates. With ``until`` (a no-argument
    predicate over the sink) the trigger is ``processingTime`` every
    ``trigger_ms`` and the wait ends when ``until()`` holds, checked
    every ``poll_sec``. Either way the wait runs in bounded slices so
    the state-memory guard sees each committed batch's progress while
    the query is still running (the cliff gives no latency
    early-warning — the gauge has to be read before the stalling
    commit, not after termination), a failed query re-raises its
    exception, and ``TimeoutError`` is raised after ``timeout_sec``
    rather than returning a partial sink. Each availableNow slice is
    clamped to the remaining deadline so a ``timeout_sec`` < 2 is
    honored (ADVICE r13)."""
    spark = sdf.sparkSession
    ckpt = _scratch("ckpt")
    trigger = (
        {"availableNow": True}
        if until is None
        else {"processingTime": f"{trigger_ms} milliseconds"}
    )
    q = _start_with_pin(
        spark,
        state_partitions,
        lambda: sink(sdf.writeStream)
        .option("checkpointLocation", ckpt)
        .trigger(**trigger)
        .start(),
    )
    max_heap = _max_heap_bytes(spark)
    warned: set = set()
    try:
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
        _capture_progress(q)
        q.stop()
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
    # Materialize off the memory sink (localCheckpoint: executor-side
    # blocks, freed by the ContextCleaner once the result is
    # unreferenced), then drop the temp view so event-scale sink
    # contents are not pinned in driver memory for the session
    # lifetime across repeated harness runs.
    result = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return result


def run_available_now(
    sdf: DataFrame,
    output_mode: str = "append",
    timeout_sec: int = 300,
    state_partitions: int | None = None,
) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink (S4)
    and return the sink's contents as a batch DataFrame.

    output_mode exercises T8: 'append' for stateless/dedup pipelines,
    'complete' for aggregations, 'update' for stateful per-key
    emission (the memory sink then holds one row per update — callers
    aggregate to the latest). availableNow (T7) processes all
    currently-available input, possibly across several micro-batches,
    then stops.

    state_partitions sizes the stateful shuffle for THIS query (state
    partitions are pinned from spark.sql.shuffle.partitions at the
    first micro-batch — AQE never coalesces them, unlike batch
    shuffles, so the session-wide batch setting of 32 over-partitions
    tiny state): each state partition pays a fixed per-micro-batch
    store open/commit cost, measured locally at ~20 ms each (PERF.md
    "streaming fixed-overhead floor"). Callers whose state keyspace is
    small (e.g. day x event_type windows) should pass a small value;
    at real scale this is the standard sizing decision — state
    partitions follow state cardinality/size, not the batch shuffle
    width. Fresh checkpoint per run, so re-pinning is always safe.

    Like every stream, the run polls the state-memory guard: one
    RuntimeWarning if state passes ``STATE_MEMORY_GUARD_THRESHOLD``
    (0.5x) of the JVM heap — the measured provider-flip point (see
    the guard's module comment). Advisory only; never fails the run.

    Concurrency-safe: the pin is applied under ``_start_with_pin``'s
    startup lock — held from conf-set until the query's first batch
    commits (when the value is durably in the offset log) — so N
    queries with different pins can run concurrently in one session
    and each consumes its own (proven by
    tests/test_streaming.py::test_runner_concurrent_queries).
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
    state_partitions: int | None = None,
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

    ``state_partitions`` has the same semantics, sizing rationale, and
    startup-lock concurrency safety as ``run_available_now``'s — and
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
    caller can re-read the materialized output.

    Delivery note: plain append per batch is AT-LEAST-ONCE under
    mid-run batch retry (no batch-id manifest); safe here only
    because every call uses a FRESH checkpoint and a failed run
    raises instead of returning a partial sink. Patterns that must
    survive replay use the batch-id-stamped writers instead
    (`make_matview_merger`, the gostream_jsonl 2PC sink)."""
    out = out_dir or _scratch("sink")

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
    main_out, side_out = _scratch("sink"), _scratch("sink")

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
