"""Structured Streaming facade (SURVEY.md §2.1 S2/S4-S6, §2.7
T1-T8) — the reference's stream-processing identity, expressed as
Spark Structured Streaming.

The batch query catalog certifies the SEMANTICS (window/session/dedup
expressions are shared via ``gostream_spark.operators``); this package
supplies the streaming EXECUTION: file-stream sources, watermarks,
triggers, output modes, stateful per-key processing, and sinks.
Every stream runs through one lifecycle in ``streaming.runner``
(checkpoint, trigger, start, bounded wait with the state-memory
guard, progress capture, stop, cleanup), which the memory-sink
runners and ``run_foreach_batch`` share. The
``queries/streaming_queries`` module runs these pipelines to
completion with ``availableNow`` triggers so even the streaming path
is oracle-checkable by the driver.
"""

from gostream_spark.streaming.source import file_stream, rate_stream
from gostream_spark.streaming.runner import (
    run_available_now,
    run_foreach_batch,
    run_foreach_batch_parquet,
)
from gostream_spark.streaming.ops import (
    dedup_stream,
    enrich_stream,
    distinct_types_stateful,
    event_session_stateful,
    ewma_stateful,
    lindley_stateful,
    running_count_stateful,
    session_timeout_stateful,
    space_saving_stateful,
    transition_counts_stateful,
    windowed_counts,
)

__all__ = [
    "file_stream",
    "rate_stream",
    "run_available_now",
    "run_foreach_batch",
    "run_foreach_batch_parquet",
    "windowed_counts",
    "dedup_stream",
    "enrich_stream",
    "distinct_types_stateful",
    "event_session_stateful",
    "ewma_stateful",
    "lindley_stateful",
    "running_count_stateful",
    "session_timeout_stateful",
    "space_saving_stateful",
    "transition_counts_stateful",
]
