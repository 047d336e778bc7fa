"""Crash/restart harness: one stream per driver process, run through
the engine's one stream lifecycle (``runner._run_stream``) on a
caller-owned checkpoint that outlives the process.

The exactly-once tests need a driver that can die: a scenario runs
here in its OWN process so ``crash`` mode can hard-kill the JVM with
``Runtime.halt()`` — no shutdown hooks, no graceful stop, no state
store maintenance pass — and a later ``recover`` process can resume
the same checkpoint and sink. ``clean`` runs the same pipeline with
no kill (the equivalence baseline, or a plain run).

Scenarios (each builds only its pipeline):

- ``stateful``: ``running_count_stateful`` over the staged files; the
  crash halts after batch 2's state version committed, before its
  sink write.
- ``ss_join``: the watermarked full-outer stream-stream join (the
  ``streaming_stream_stream_full_join`` shape, four symmetric-join
  state stores per partition); same halt point.
- ``matview``: the incremental materialized view
  (``make_matview_merger``); the crash halts right after the second
  committed view version.
- ``jsonl``: the synthetic Python stream source into the 2PC
  ``gostream_jsonl`` sink on a processing-time trigger; the crash
  halts from the ``until`` predicate once two batch manifests exist.
- ``schema_v1``/``schema_v2``: a running count via
  ``applyInPandasWithState`` with state ``struct<cnt>`` and the
  additive extension ``struct<cnt, last_event>``, for the
  state-schema-evolution pin.
- ``retry``: no driver kill. Under ``local[2,2]`` (one task retry) a
  Python UDF in the projection fails every first task attempt after
  it has emitted rows, leaving a marker file per failure; the stream
  runs through ``run_foreach_batch_parquet``.

Usage: python stream_crash_harness.py SCENARIO {crash|recover|clean}
       STORE PARTITIONS PATH...
(tests call ``launch``). STORE is ``hdfs`` or ``rocksdb``; every
process of one test must agree on it. PARTITIONS is the session's
shuffle width and the state width each stream asks the runner for; a
resumed checkpoint keeps the width it was started with. PATHs are the
scenario's arguments: ``STAGE OUT CKPT`` (stateful, ss_join, schema_*),
``STAGE MV CKPT`` (matview), ``OUT CKPT ROWS`` (jsonl),
``STAGE OUT MARKERS`` (retry).
Exit codes: crash exits nonzero (the halted JVM tears the client
down); recover/clean exit 0 and print ``HARNESS_DONE`` iff the stream
finished; a stream that raises exits 5 after printing
``HARNESS_EXC_TYPE=``/``HARNESS_EXC_MSG=``; a deadline exits 4.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402
from pyspark import TaskContext  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.streaming.state import GroupStateTimeout  # noqa: E402

from gostream_spark.pysource import ensure_registered  # noqa: E402
from gostream_spark.queries.python_datasource import open_shards  # noqa: E402
from gostream_spark.queries.streaming_queries import make_matview_merger  # noqa: E402
from gostream_spark.streaming.ops import running_count_stateful  # noqa: E402
from gostream_spark.streaming.runner import (  # noqa: E402
    _run_stream,
    run_foreach_batch_parquet,
)

_ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def launch(
    scenario: str, mode: str, *paths, store: str = "hdfs", partitions: int = 4
) -> subprocess.CompletedProcess:
    """Run one scenario in a fresh driver process and return it."""
    return subprocess.run(
        [sys.executable, os.path.abspath(__file__), scenario, mode, store,
         str(partitions), *map(str, paths)],
        capture_output=True, text=True, timeout=600,
    )


def _session(store: str, partitions: str, master: str):
    builder = (
        SparkSession.builder.master(master)
        .appName("stream_crash_harness")
        .config("spark.sql.shuffle.partitions", partitions)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    if store == "rocksdb":
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass", _ROCKSDB
        ).config(
            # Changelog checkpointing is the at-scale recovery path:
            # per-batch deltas to the checkpoint, snapshots in the
            # background — exactly what halt() must not corrupt.
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
    return builder.getOrCreate()


def _run(sdf, sink, **run) -> None:
    """``_run_stream`` at the session's width (PARTITIONS) instead of
    the runner's own."""
    width = int(sdf.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    _run_stream(sdf, sink, state_partitions=width, **run)


def _halt(spark) -> None:
    # Hard driver kill: halt() skips ALL JVM shutdown hooks, so nothing
    # stops the query cleanly or finalizes the in-flight batch.
    spark._jvm.java.lang.Runtime.getRuntime().halt(137)


def _staged(spark, stage: str, schema: str):
    """The staged parquet files as a stream, one file per batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )


def _halt_after_commit(spark, out: str, crash: bool, output_mode: str):
    """foreachBatch sink writing each batch to ``out/b<id>``. In crash
    mode it halts on batch 2 after an action on the batch has
    committed the upstream state version but before the write: the
    commit log and the sink never see batch 2, the state store
    already holds a version for it. Recovery must replay batch 2
    against the LAST COMMITTED state (post-batch-1), not the orphan."""
    os.makedirs(out, exist_ok=True)

    def sink(batch_df, batch_id: int) -> None:
        batch_df.persist()
        try:
            batch_df.count()  # action: upstream state versions commit HERE
            if crash and batch_id == 2:
                _halt(spark)
            batch_df.write.mode("overwrite").parquet(
                os.path.join(out, f"b{batch_id}")
            )
        finally:
            batch_df.unpersist()

    return lambda w: w.foreachBatch(sink).outputMode(output_mode)


def _stateful(spark, crash, stage, out, ckpt):
    sdf = _staged(spark, stage, "event_id long, user_id long")
    _run(
        running_count_stateful(sdf),
        _halt_after_commit(spark, out, crash, "update"),
        checkpoint=ckpt,
    )


def _ss_join(spark, crash, stage, out, ckpt):
    def side(event_type: str, id_alias: str, user_alias: str, ts_alias: str):
        return (
            _staged(spark, stage, "event_id long, ts timestamp, user_id long, "
                    "event_type string")
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(id_alias),
                F.col("user_id").alias(user_alias),
                F.col("ts").alias(ts_alias),
            )
            .withWatermark(ts_alias, "1 hour")
        )

    p = side("purchase", "purchase_id", "p_user", "p_ts")
    c = side("click", "click_id", "c_user", "c_ts")
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "full_outer",
    ).select(
        F.coalesce("purchase_id", F.lit(-1)).alias("purchase_id"),
        F.coalesce("click_id", F.lit(-1)).alias("click_id"),
        F.coalesce(F.col("p_user"), F.col("c_user")).alias("user_id"),
    )
    _run(
        joined, _halt_after_commit(spark, out, crash, "append"), checkpoint=ckpt
    )


def _matview(spark, crash, stage, mv_root, ckpt):
    _state, merge = make_matview_merger(mv_root)

    def sink(batch_df, batch_id: int) -> None:
        merge(batch_df, batch_id)
        if crash and batch_id == 1:  # the second committed version
            _halt(spark)

    sdf = _staged(spark, stage, "event_id long, event_type string, cents long")
    _run(sdf, lambda w: w.foreachBatch(sink), checkpoint=ckpt)


def _jsonl(spark, crash, out, ckpt, rows):
    ensure_registered(spark)
    os.makedirs(out, exist_ok=True)
    stream = (
        spark.readStream.format("gostream_synth")
        .option("rows", int(rows))
        .option("batch", 500)
        .load()
        .select("event_id", "bucket", "amount")
    )

    def until() -> bool:
        if crash:
            if len(glob.glob(os.path.join(out, "_batch-*.manifest"))) >= 2:
                _halt(spark)  # the sink is left mid-protocol
            return False
        return sum(1 for _ in open_shards(out)) >= int(rows)

    _run(
        stream,
        lambda w: w.format("gostream_jsonl").option("path", out),
        until=until,
        timeout_sec=180,
        poll_sec=0.1,
        checkpoint=ckpt,
    )


def _schema(extended: bool):
    """Running count with state ``struct<cnt>``, or with the additive
    extension ``struct<cnt, last_event>`` (also tracks the max
    event_id seen) that a redeploy ships."""

    def scenario(spark, crash, stage, out, ckpt):
    
        def fn(key, pdfs, state):
            cnt = state.get[0] if state.exists else 0
            last = state.get[1] if state.exists and extended else -1
            for pdf in pdfs:
                cnt += len(pdf)
                if len(pdf):
                    last = max(last, int(pdf["event_id"].max()))
            state.update((cnt, last) if extended else (cnt,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [cnt]})

        res = _staged(spark, stage, "event_id long, user_id long").groupBy(
            "user_id"
        ).applyInPandasWithState(
            fn,
            outputStructType="user_id long, n_events long",
            stateStructType="cnt long, last_event long" if extended else "cnt long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        _run(
            res, _halt_after_commit(spark, out, crash, "update"), checkpoint=ckpt
        )

    return scenario


def _retry(spark, crash, stage, out, markers):

    seen: dict[int, int] = {}

    @F.udf("string")
    def pad(event_id):
        ctx = TaskContext.get()
        n = seen[ctx.taskAttemptId()] = seen.get(ctx.taskAttemptId(), 0) + 1
        # Row 150: the first 100-row result batch (~100 KiB of padding,
        # past the worker's 64 KiB output buffer) has already gone back
        # to the JVM and into this attempt's parquet writer.
        if ctx.attemptNumber() == 0 and n == 150:
            open(os.path.join(markers, f"attempt-{ctx.taskAttemptId()}"), "w").close()
            raise RuntimeError("injected first-attempt task failure")
        return str(event_id).rjust(1024)

    sdf = _staged(spark, stage, "event_id long")
    run_foreach_batch_parquet(
        sdf.select("event_id", pad("event_id").alias("pad")), out
    )


SCENARIOS = {
    "stateful": _stateful,
    "ss_join": _ss_join,
    "matview": _matview,
    "jsonl": _jsonl,
    "schema_v1": _schema(extended=False),
    "schema_v2": _schema(extended=True),
    "retry": _retry,
}


def main(argv: list[str]) -> int:
    scenario, mode, store, partitions, *paths = argv
    # local mode grants task retries only through local[N,maxFailures].
    master = "local[2,2]" if scenario == "retry" else "local[2]"
    spark = _session(store, partitions, master)
    try:
        SCENARIOS[scenario](spark, mode == "crash", *paths)
    except TimeoutError:
        return 4
    except Exception as exc:  # a crash, or whatever Spark refuses with
        print(f"HARNESS_EXC_TYPE={type(exc).__name__}")
        print(f"HARNESS_EXC_MSG={str(exc)[:2000]}")
        return 5
    spark.stop()
    print("HARNESS_DONE")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
