"""Streaming sources (SURVEY.md §2.1 S2) — the spout equivalents.

``file_stream`` replays a bounded fixture table as a stream (the
standard replay harness for deterministic streaming tests; at
production scale the same code points at a continuously-appended
directory or a Kafka source). Streaming file sources require an
explicit schema; it comes from ``io.table_schema``, the same
per-session memo the batch loader uses, so a table is inferred once
per session and file set whichever way it is read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gostream_spark.io import TABLES, ensure_session_conf, path_status, table_path, table_schema


def file_stream(
    spark: SparkSession, sf_dir: str, name: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """S2: file-based stream over one fixture table. Applies the same
    nanos→micros timestamp normalization as the batch reader so batch
    and streaming pipelines see identical schemas."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # see io.ensure_session_conf: engine must work under any caller session
    ensure_session_conf(spark, events=name == "events")
    path = table_path(sf_dir, name)
    status = path_status(spark, path)
    schema = table_schema(spark, path, status)
    # The streaming file source wants a directory. Two layouts exist:
    # a single-FILE table (the driver fixtures) is scoped inside its
    # parent dir with a name glob; a DIRECTORY table (the real-world
    # layout — every production table is a directory of part files,
    # and tools/restage_sharded.py's determinism axis) streams the
    # directory itself, every shard included. The check goes through
    # the Hadoop FileSystem lookup (io.path_status): os.path.isdir on an
    # object-store URI is always False and would silently mis-route
    # directory tables back into the 0-row name-glob bug this dispatch
    # exists to fix. os.path is only the fallback without JVM access.
    is_dir = status[1].isDirectory() if status is not None else os.path.isdir(path)
    if is_dir:
        reader = spark.readStream.schema(schema).option(
            "pathGlobFilter", "*.parquet"
        )
        stream_path = path
    else:
        reader = spark.readStream.schema(schema).option(
            "pathGlobFilter", f"{name}.parquet"
        )
        stream_path = sf_dir.rstrip("/")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    sdf = reader.parquet(stream_path)
    if name == "events" and dict(sdf.dtypes).get("ts") == "bigint":
        sdf = sdf.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return sdf


def rate_stream(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """S2: synthetic tick source (the reference's tick-tuple spout) —
    columns (timestamp, value)."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
