"""Queries over the user-defined Python DataSource (S-row extension:
the reference's user-authored "spout" surface, realized as Spark 4's
``pyspark.sql.datasource`` API — see ``gostream_spark.pysource``).

The source is deterministic integer arithmetic, so DuckDB replays the
identical rows from ``range()`` and the driver's exact hash check
covers a source with no files behind it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gostream_spark.pysource import ensure_registered
from gostream_spark.registry import register

_ROWS = 20000

_BATCH_ORACLE = f"""
WITH src AS (
  SELECT t.range AS event_id,
         CAST(t.range % 16 AS INTEGER) AS bucket,
         ['view', 'click', 'cart', 'purchase', 'refund'][CAST(t.range % 5 AS INTEGER) + 1] AS etype,
         (t.range * t.range) % 997 AS amount
  FROM range({_ROWS}) t
  WHERE t.range >= 5000 AND t.range < 15000
)
SELECT etype,
       count(*) AS n_events,
       CAST(sum(amount) AS BIGINT) AS total_amount,
       CAST(min(event_id) AS BIGINT) AS first_id,
       CAST(max(event_id) AS BIGINT) AS last_id
FROM src GROUP BY etype
"""


@register("pysource_filtered_agg", oracle=_BATCH_ORACLE, tags=("S2", "S3", "ext"))
def pysource_filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch read through the custom Python DataSource with an
    event_id range predicate. ``_SynthReader.pushFilters`` consumes
    the two range filters, so each of the 8 input partitions
    GENERATES only its slice of [5000, 15000) — rows outside the
    range never exist, the source-level analogue of parquet
    row-group pruning. One shuffle (the final 5-group agg).
    Explicit .schema(SCHEMA): skips the Python schema-inference
    worker, same rationale as the streaming twins (r11)."""
    from gostream_spark.pysource import SCHEMA

    ensure_registered(spark)
    src = (
        spark.read.format("gostream_synth")
        .schema(SCHEMA)
        .option("rows", _ROWS)
        .option("numPartitions", 8)
        .load()
        .filter((F.col("event_id") >= 5000) & (F.col("event_id") < 15000))
    )
    return src.groupBy("etype").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("amount").alias("total_amount"),
        F.min("event_id").alias("first_id"),
        F.max("event_id").alias("last_id"),
    )


_STREAM_ROWS = 3000

_STREAM_ORACLE = f"""
WITH src AS (
  SELECT t.range AS event_id,
         CAST(t.range % 16 AS INTEGER) AS bucket,
         (t.range * t.range) % 997 AS amount
  FROM range({_STREAM_ROWS}) t
)
SELECT bucket, count(*) AS n_events, CAST(sum(amount) AS BIGINT) AS total_amount
FROM src GROUP BY bucket
"""


@register("pysource_stream_counts", oracle=_STREAM_ORACLE, tags=("S2", "T8", "ext"))
def pysource_stream_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read through the custom Python DataSource
    (``SimpleDataSourceStreamReader``): row-position offsets, 1000-row
    micro-batches, deterministic replay between offsets. Complete-mode
    per-bucket aggregation over the memory sink, driven by the
    ``run_until`` processing-time harness (Python stream sources do
    not support Trigger.AvailableNow — Spark logs the fallback and
    would stop after ONE batch) until every bucket reports its full
    count (3000 rows over 16 buckets = 187 or 188 each); the totals
    then equal the batch formula, checked by the exact oracle. The
    stop predicate is driver-side test scaffolding, same as the
    memory sink itself.

    Explicit .schema(SCHEMA) (r11): the source's schema is static,
    and omitting it makes Spark spin up a Python planner worker just
    to call DataSource.schema() — ~1.8 s on first use, ~0.15 s per
    later build (measured). Passing it skips that roundtrip entirely;
    the read path still goes through the Python reader, which is the
    contract under test."""
    from gostream_spark.pysource import SCHEMA
    from gostream_spark.streaming.runner import run_until

    ensure_registered(spark)
    stream = (
        spark.readStream.format("gostream_synth")
        .schema(SCHEMA)
        .option("rows", _STREAM_ROWS)
        .option("batch", 1000)
        .load()
    )
    agg = stream.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("amount").alias("total_amount"),
    )
    full = _STREAM_ROWS // 16  # every bucket ends at floor or floor+1

    def _complete(sink_df: DataFrame) -> bool:
        return sink_df.filter(F.col("n_events") >= full).count() >= 16

    return run_until(
        agg,
        _complete,
        output_mode="complete",
        timeout_sec=120,
        poll_sec=0.15,
    )


# --- Custom Python sink (DataSourceWriter / DataSourceStreamWriter) -----

_SINK_BATCH_ORACLE = """
SELECT event_type, count(*) AS n_events, count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""


@register("pysink_batch_roundtrip", oracle=_SINK_BATCH_ORACLE, tags=("S5", "ext"))
def pysink_batch_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch write through the custom Python DataSourceWriter
    (two-phase commit: staged shards -> driver-side publish), then
    re-read the committed JSONL and aggregate. What lands after commit
    is exactly the input — checked by running the aggregate on the
    ROUNDTRIPPED rows against the oracle's direct scan of events."""
    import os

    from gostream_spark.io import load_table
    from gostream_spark.streaming.runner import _sink_dir

    ensure_registered(spark)
    out = _sink_dir()
    (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type")
        .write.format("gostream_jsonl")
        .mode("overwrite")
        .option("path", out)
        .save()
    )
    back = spark.read.schema("event_id BIGINT, user_id BIGINT, event_type STRING").json(
        os.path.join(out, "*.jsonl")
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


_SINK_STREAM_ORACLE = f"""
WITH src AS (
  SELECT t.range AS event_id, CAST(t.range % 16 AS INTEGER) AS bucket,
         (t.range * t.range) % 997 AS amount
  FROM range({_STREAM_ROWS}) t
)
SELECT bucket, count(*) AS n_rows, CAST(sum(amount) AS BIGINT) AS total_amount
FROM src GROUP BY bucket
"""


@register("pysink_stream_roundtrip", oracle=_SINK_STREAM_ORACLE, tags=("S6", "T7", "ext"))
def pysink_stream_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom source INTO custom sink: the synthetic stream reader
    feeds the DataSourceStreamWriter, whose per-micro-batch two-phase
    commit publishes `batch-<id>-` shards with manifest markers
    (replayed batches discard duplicates — exactly-once contents).
    The committed JSONL re-read and aggregated must equal the batch
    formula. Driven by the runner's processing-time lifecycle, as
    run_until is (Python stream sources lack availableNow), until all
    rows are committed.

    Cold-cost levers (r11, VERDICT r10 #3): explicit .schema(SCHEMA)
    skips the Python schema-inference worker (~1.8 s first use — see
    pysource_stream_counts), and batch=1500 runs the stream in TWO
    micro-batches instead of three (still multi-batch, so per-batch
    2PC commit/replay semantics stay covered; one fewer both-ends
    Python planning+eval roundtrip). The remaining cold cost is the
    Python DataSource runner processes themselves (source runner,
    writer commit hook — each a fresh interpreter importing pyspark),
    which ARE the contract under test; a long-running production
    stream amortizes them to zero."""
    from gostream_spark.pysource import SCHEMA
    from gostream_spark.streaming.runner import _run_stream, _sink_dir

    ensure_registered(spark)
    out = _sink_dir()
    stream = (
        spark.readStream.format("gostream_synth")
        .schema(SCHEMA)
        .option("rows", _STREAM_ROWS)
        .option("batch", 1500)
        .load()
        .select("event_id", "bucket", "amount")
    )
    _run_stream(
        stream,
        lambda w: w.format("gostream_jsonl").option("path", out),
        until=lambda: sum(1 for _ in open_shards(out)) >= _STREAM_ROWS,
        timeout_sec=120,
        poll_sec=0.15,
    )
    # Read COMMITTED shards only (manifest-driven, same discipline as
    # the stop condition above): a raw *.jsonl glob would also pick up
    # shards a crashed attempt published without reaching its marker.
    back = spark.read.schema("event_id BIGINT, bucket INT, amount BIGINT").json(
        committed_shard_paths(out)
    )
    return back.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("amount").alias("total_amount"),
    )


def committed_shard_paths(out: str) -> list:
    """Paths of COMMITTED shards only: shards listed by an atomic
    `_batch-<id>.manifest` marker — a shard published by a crashed
    attempt whose marker never landed is invisible here, the same
    read-side discipline a lakehouse manifest gives."""
    import glob as _glob
    import os

    paths = []
    for marker in sorted(_glob.glob(os.path.join(out, "_batch-*.manifest"))):
        with open(marker) as f:
            paths += [
                os.path.join(out, ln.strip()) for ln in f if ln.strip()
            ]
    return paths


def open_shards(out: str):
    """Iterate committed rows (scaffolding for the stream-sink stop
    condition); manifest-driven via committed_shard_paths."""
    for path in committed_shard_paths(out):
        with open(path) as f:
            yield from f
