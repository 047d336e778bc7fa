"""SparkSession construction tuned for both local test scale and the
100 TB design point.

Local mode knobs (shuffle partitions ~ cores, AQE on) follow public
Spark guidance; on a real cluster the same builder works — AQE
coalesces the shuffle partitions at runtime, so a large static
``spark.sql.shuffle.partitions`` is safe at scale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Past spark.sql.sources.parallelPartitionDiscovery.threshold root
# paths (Spark's default 32) Spark lists files in a Spark job, whose
# tasks mostly deserialize the whole Hadoop configuration; below it
# the driver lists them itself, serially. A file-stream micro-batch
# passes each of its files as a root path, so an 81-file catch-up
# batch ran a listing job, 4 of the drain's 17 tasks (PERF.md "Stream
# drain: one Spark job"). Measured on 4 vCPUs, local disk, one
# DataFrame over N file paths, median of 16 (wall / CPU s, driver and
# JVM):
#     N      listing job      serial
#     81     0.109 / 0.266    0.035 / 0.076
#     256    0.124 / 0.212    0.054 / 0.079
#     1024   0.190 / 0.289    0.136 / 0.157
#     2048   0.295 / 0.443    0.272 / 0.320
#     4096   0.532 / 0.698    0.508 / 0.620
# A local file's status costs the driver about 0.12 ms, so the serial
# listing costs less CPU at every N measured and less wall time up to
# the 4096 files where the two meet; 1024 keeps a margin and bounds
# the serial listing of one batch at about 0.15 s. On HDFS or an
# object store a file status is a network round trip, which this
# table does not measure.
_LISTING_THRESHOLD = 1024


def get_spark(
    app_name: str = "gostream_spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Defaults: ``local[$SPARK_GRAFT_CPUS or *]``, AQE enabled (runtime
    re-planning: partition coalescing, skew-join splitting, broadcast
    demotion/promotion), UTC session timezone (required for oracle
    parity — DuckDB timestamps are UTC-naive), Arrow enabled for the
    pandas interchange used by the vectorized operators.

    Three settings cut driver and listing overhead:

    - PySpark's per-call call-site capture is off
      (``spark.python.sql.dataFrameDebugging.enabled=false``). With it
      on, every Column call such as ``F.col("x")`` makes 13 py4j round
      trips instead of 3. PySpark caches the flag process-wide at the
      first Column call, so it is set in the builder. Cost: an error
      message no longer names the PySpark line that built the failing
      expression; Spark's own stack traces are unchanged.
    - File listing runs at most ``defaultParallelism`` tasks
      (``spark.sql.sources.parallelPartitionDiscovery.parallelism``,
      Spark's default 10,000). A file-stream micro-batch passes each
      of its files as a root path, so past the 32-path threshold
      Spark lists them in a job with one task per file, and each task
      deserializes the whole Hadoop configuration: about 1 s of CPU
      for an 81-file catch-up batch against 0.06 s at 4 tasks
      (PERF.md, "Stream listing fan-out"). On a cluster
      ``defaultParallelism`` is the total executor core count, so
      listing still uses every core. The value is derived from the
      session and set on it after creation, for the session's whole
      lifetime: the file source reads it again for every batch.
    - Listings of up to ``_LISTING_THRESHOLD`` (1024) root paths run
      on the driver, without a job
      (``spark.sql.sources.parallelPartitionDiscovery.threshold``,
      Spark's default 32). An 81-file catch-up batch is then listed
      serially on the driver, and the drain is one Spark job (PERF.md,
      "Stream drain: one Spark job"). Like the cap, it is set on the
      session after creation, for its whole lifetime: the file source
      lists each micro-batch in the session the stream was read in,
      not in the clone ``start()`` makes, so a pin across ``start()``
      does not reach it. The cap still bounds listings above the
      threshold.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # events.parquet carries TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read it as raw nanos (io.load_table converts
        # to a microsecond TimestampType column).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.conf.set(
        "spark.sql.sources.parallelPartitionDiscovery.parallelism",
        str(spark.sparkContext.defaultParallelism),
    )
    spark.conf.set(
        "spark.sql.sources.parallelPartitionDiscovery.threshold",
        str(_LISTING_THRESHOLD),
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark
