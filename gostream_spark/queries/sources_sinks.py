"""Driver-visible source/sink queries (SURVEY.md §2.1 S3/S4).

S3 (in-memory source) and S4 (collect/memory sink) are exercised
throughout the test suite as scaffolding; the two queries here make
them first-class registry rows with their own oracles:

- ``memory_source_agg`` builds its input with the engine's
  ``memory_source`` (the reference's test-spout analogue) and
  aggregates it; the oracle recreates the same literal rows with a
  DuckDB ``VALUES`` list (cast to DOUBLE, as DuckDB types decimal
  literals DECIMAL), so the check is exact and independent of the
  parquet fixtures.
- ``streaming_memory_sink`` runs a real Structured Streaming pipeline
  into the in-memory table sink (Spark's collect/console-style sink
  for tests) and returns the sink's contents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gostream_spark.io import memory_source
from gostream_spark.registry import register
from gostream_spark.streaming import file_stream, run_available_now

# Deterministic literal fixture: (device, reading). Small by design —
# S3 is the unit-test/scaffolding source; anything at data scale
# arrives through S1/S2.
_READINGS = [
    ("sensor-a", 10.5),
    ("sensor-a", 11.0),
    ("sensor-a", 9.5),
    ("sensor-b", 100.0),
    ("sensor-b", 101.5),
    ("sensor-c", 7.25),
]

_S3_ORACLE = """
SELECT device,
       count(*) AS n,
       round(sum(reading), 2) AS total,
       round(avg(reading), 4) AS mean,
       round(min(reading), 2) AS lo,
       round(max(reading), 2) AS hi
FROM (SELECT device, reading::DOUBLE AS reading FROM (VALUES
  ('sensor-a', 10.5), ('sensor-a', 11.0), ('sensor-a', 9.5),
  ('sensor-b', 100.0), ('sensor-b', 101.5), ('sensor-c', 7.25)
) AS v(device, reading)) AS t
GROUP BY device
"""


@register("memory_source_agg", oracle=_S3_ORACLE, tags=("S3", "A1"))
def memory_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: in-memory source → groupBy aggregate. The oracle rebuilds
    the identical literal rows with a VALUES list — exact check with
    no parquet dependency, proving the source path itself."""
    df = memory_source(spark, _READINGS, "device STRING, reading DOUBLE")
    return df.groupBy("device").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("reading"), 2).alias("total"),
        F.round(F.avg("reading"), 4).alias("mean"),
        F.round(F.min("reading"), 2).alias("lo"),
        F.round(F.max("reading"), 2).alias("hi"),
    )


_S4_ORACLE = """
SELECT event_type, count(*) AS event_cnt, count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""


@register("streaming_memory_sink", oracle=_S4_ORACLE, tags=("S4", "S2", "T7", "T8"))
def streaming_memory_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: file-stream source → per-type counts → in-memory table sink
    (complete mode, availableNow). The memory sink is Spark's
    collect/console sink for deterministic tests: the returned
    DataFrame IS the sink's final table, which with all input
    available must equal the batch group-by the oracle computes."""
    ev = file_stream(spark, sf_dir, "events")
    # Streaming side keeps (event_type, user_id) granularity — exact
    # countDistinct isn't a streaming aggregate, so the distinct is
    # taken over the bounded sink table below.
    agg = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("c"))
    sink = run_available_now(agg, output_mode="complete")
    return sink.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("event_cnt"),
        F.countDistinct("user_id").alias("n_users"),
    )


# --- S1 ext: CSV / JSON-lines file sources ------------------------------

_FILE_SRC_ORACLE = """
SELECT event_type,
       count(*) AS n,
       CAST(sum(event_id) AS BIGINT) AS id_sum,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""

_EVENT_COLS = ("event_id", "user_id", "event_type")
_EVENT_DDL = "event_id BIGINT, user_id BIGINT, event_type STRING"


def _file_source_agg(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    from gostream_spark.io import load_table
    from gostream_spark.streaming.runner import _sink_dir

    path = _sink_dir()
    subset = load_table(spark, sf_dir, "events").select(*_EVENT_COLS)
    writer = subset.write.mode("overwrite")
    if fmt == "csv":
        writer = writer.option("header", "true")
    getattr(writer, fmt)(path)
    reader = spark.read.schema(_EVENT_DDL)
    if fmt == "csv":
        reader = reader.option("header", "true")
    df = getattr(reader, fmt)(path)
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").cast("bigint").alias("id_sum"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register("csv_source_agg", oracle=_FILE_SRC_ORACLE, tags=("S1", "ext"))
def csv_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 ext: CSV file source. The integer/string event columns are
    round-tripped through a CSV directory and re-aggregated; matching
    the parquet-side oracle proves the CSV read path end to end
    (header handling, explicit schema — never schema inference, which
    at 100 TB would cost a full extra pass over the text). CSV is a
    splittable line format: the scan parallelizes by byte ranges, so
    the shape scales like any other file scan; only column PRUNING is
    unavailable (row-oriented text), which is why parquet stays the
    canonical S1 and CSV is the ingest/interchange path."""
    return _file_source_agg(spark, sf_dir, "csv")


@register("jsonl_source_agg", oracle=_FILE_SRC_ORACLE, tags=("S1", "ext"))
def jsonl_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 ext: JSON-lines file source (the interchange format crawl
    pipelines actually deliver). Same roundtrip-and-agg proof as the
    CSV twin, with an explicit schema so malformed rows go to Spark's
    PERMISSIVE null row rather than failing the scan — and no
    inference pass."""
    return _file_source_agg(spark, sf_dir, "json")


@register("orc_source_agg", oracle=_FILE_SRC_ORACLE, tags=("S1", "ext"))
def orc_source_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 ext: ORC file source — the other columnar format Spark
    reads natively (predicate pushdown + column pruning, like
    parquet). Same roundtrip-and-agg proof as the CSV/JSONL twins."""
    return _file_source_agg(spark, sf_dir, "orc")


_PART_SINK_ORACLE = """
SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
FROM documents WHERE lang = 'en'
GROUP BY source
"""


@register("partitioned_sink_pruned_read", oracle=_PART_SINK_ORACLE, tags=("S5", "ext"))
def partitioned_sink_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 ext: hive-partitioned parquet sink → partition-PRUNED read.
    Documents are written partitioned by ``lang``; the re-read filters
    one language, so the scan lists only that partition directory —
    at 100 TB the lang='en' query reads the en/ files and nothing
    else (the pruning itself is asserted in
    tests/test_partition_pruning.py; this query proves the write →
    prune → aggregate roundtrip end to end against the unpartitioned
    oracle)."""
    from gostream_spark.io import load_table
    from gostream_spark.streaming.runner import _sink_dir

    path = _sink_dir()
    docs = load_table(spark, sf_dir, "documents")
    docs.write.mode("overwrite").partitionBy("lang").parquet(path)
    return (
        spark.read.parquet(path)
        .filter(F.col("lang") == "en")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("chars"),
        )
    )


# --- S5 ext: Z-order clustering key -------------------------------------

_ZORDER_BITS = 8

_ZORDER_ORACLE = f"""
WITH dims AS (
  SELECT event_id,
         user_id % 256 AS x,
         CAST(date_part('day', ts) AS BIGINT) AS y
  FROM events),
z AS (
  SELECT event_id, x, y,
         {' + '.join(f"(((x >> {i}) & 1) << {2 * i}) + (((y >> {i}) & 1) << {2 * i + 1})" for i in range(8))}
           AS zkey
  FROM dims)
SELECT event_id, CAST(x AS BIGINT) AS x, y, CAST(zkey AS BIGINT) AS zkey,
       CAST(zkey % 16 AS BIGINT) AS file_group
FROM z
"""


@register("zorder_cluster_key", oracle=_ZORDER_ORACLE, tags=("S5", "F7", "ext"))
def zorder_cluster_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (user_id, day) — the
    bit-interleaved sort key behind Delta/Iceberg Z-ORDER layout:
    writing files sorted by zkey co-locates rows close in BOTH
    dimensions, so min/max file stats prune scans filtered on either
    one. Pure row-local integer bit math (identical semantics in both
    engines); file_group is the write-time bucket a compaction job
    would range-assign. The engine's partitioned sink
    (`partitioned_sink_pruned_read`) covers coarse pruning; this is
    the fine-grained multi-dimensional complement."""
    from gostream_spark.io import load_table

    ev = load_table(spark, sf_dir, "events")
    x = (F.col("user_id") % 256).alias("x")
    y = F.dayofmonth("ts").cast("long").alias("y")
    dims = ev.select("event_id", x, y)
    zkey = None
    for i in range(_ZORDER_BITS):
        xbit = F.shiftleft(F.shiftright("x", i).bitwiseAND(F.lit(1)), 2 * i)
        ybit = F.shiftleft(F.shiftright("y", i).bitwiseAND(F.lit(1)), 2 * i + 1)
        zkey = xbit + ybit if zkey is None else zkey + xbit + ybit
    z = dims.select(
        "event_id",
        F.col("x").cast("long").alias("x"),
        "y",
        zkey.cast("long").alias("zkey"),
    )
    return z.select(
        "event_id", "x", "y", "zkey", (F.col("zkey") % 16).cast("long").alias("file_group")
    )


# --- S1 ext: schema evolution across parquet generations ----------------

_EVOLUTION_ORACLE = """
SELECT source,
       CASE WHEN doc_id % 2 = 1 THEN lang ELSE '_absent' END AS lang_merged,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS chars
FROM documents
GROUP BY source, CASE WHEN doc_id % 2 = 1 THEN lang ELSE '_absent' END
"""


@register("parquet_schema_evolution_read", oracle=_EVOLUTION_ORACLE, tags=("S1", "ext"))
def parquet_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 ext: SCHEMA EVOLUTION — a corpus written in two generations
    (v1 lacks the ``lang`` column; v2 carries it) read back as ONE
    dataset via ``mergeSchema``: Spark unions the footers' schemas and
    null-fills the column missing from v1 files. This is the exact
    shape of a multi-year crawl store where later shards gained
    columns; the alternative (rewriting 100 TB of old shards to add a
    null column) is precisely what mergeSchema exists to avoid.
    Null-filled rows are tagged '_absent' so the output is NULL-free
    for the hash compare (engine convention). The oracle replays the
    generation split (doc_id parity) with a CASE on the source table.
    mergeSchema costs one footer read per file at plan time — at scale
    pin the merged schema explicitly after the first read instead of
    re-merging every query."""
    from gostream_spark.io import load_table
    from gostream_spark.streaming.runner import _sink_dir

    docs = load_table(spark, sf_dir, "documents")
    path = _sink_dir()
    v1 = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "source", "n_chars")
    v2 = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "source", "n_chars", "lang"
    )
    v1.write.mode("overwrite").parquet(path + "/gen=1")
    v2.write.mode("overwrite").parquet(path + "/gen=2")
    merged = spark.read.option("mergeSchema", "true").parquet(
        path + "/gen=1", path + "/gen=2"
    )
    return merged.groupBy(
        "source", F.coalesce(F.col("lang"), F.lit("_absent")).alias("lang_merged")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("chars"),
    )


# --- S5 ext: small-files compaction planner -----------------------------

_COMPACTION_ORACLE = """
WITH sized AS (
  SELECT source, doc_id, n_chars,
         sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_chars
  FROM documents),
planned AS (
  SELECT source, doc_id, n_chars,
         CAST(floor((cum_chars - 1) / 8192.0) AS BIGINT) AS target_file
  FROM sized WHERE n_chars > 0)
SELECT source, target_file,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS file_chars,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(max(doc_id) AS BIGINT) AS last_doc
FROM planned
GROUP BY source, target_file
"""


@register("compaction_plan", oracle=_COMPACTION_ORACLE, tags=("S5", "W3", "ext"))
def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 ext: SMALL-FILES COMPACTION planner — the lakehouse
    maintenance op every 100 TB parquet store needs. Documents stand
    in for data files (n_chars = file bytes); per source partition,
    files are packed in stable doc_id order into ~8 KiB target files
    by running-sum bucketing: target = floor((cumsum-1)/target_size).
    One window + one aggregate, both partitioned by source — no
    global sort, no driver-side file listing loop; at real scale the
    input is the table's file manifest (millions of rows, not
    billions), so the per-partition window is cheap. The greedy
    cumulative packing is deterministic and engine-exact (integer
    arithmetic); zero-byte files are dropped on both sides (they'd
    land between buckets ambiguously and a compactor deletes them
    anyway)."""
    from pyspark.sql import Window

    from gostream_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    planned = (
        docs.filter(F.col("n_chars") > 0)
        .select(
            "source",
            "doc_id",
            "n_chars",
            F.floor((F.sum("n_chars").over(w) - 1) / 8192.0)
            .cast("bigint")
            .alias("target_file"),
        )
    )
    return planned.groupBy("source", "target_file").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("file_chars"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# --- S5 ext: file-level min/max stats manifest + skipping verdict -------

_MANIFEST_ORACLE = """
WITH rows_in AS (
  SELECT CAST(ts AS DATE) AS day, ts, event_id, user_id
  FROM events WHERE ts IS NOT NULL),
filed AS (
  SELECT day, user_id,
         CAST(floor((row_number() OVER (PARTITION BY day ORDER BY ts, event_id) - 1)
                    / 512.0) AS BIGINT) AS file_seq
  FROM rows_in),
stats AS (
  SELECT day, file_seq,
         CAST(count(*) AS BIGINT) AS n_rows,
         COALESCE(min(user_id), -1) AS uid_lo,
         COALESCE(max(user_id), -1) AS uid_hi
  FROM filed GROUP BY day, file_seq)
SELECT strftime(day, '%Y-%m-%d') AS day, file_seq, n_rows, uid_lo, uid_hi,
       CASE WHEN day < DATE '2024-01-10' OR day > DATE '2024-01-12'
            THEN 1 ELSE 0 END AS prune_day,
       CASE WHEN uid_lo = -1 THEN 0
            WHEN uid_hi < 0 OR uid_lo > 2 THEN 1 ELSE 0 END AS prune_uid
FROM stats
"""


@register("file_stats_manifest", oracle=_MANIFEST_ORACLE, tags=("S5", "W3", "ext"))
def file_stats_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 ext: FILE-LEVEL STATS MANIFEST — the data-skipping index a
    lakehouse keeps per parquet file (Delta add-file stats / Iceberg
    manifests). Events stand in for an append log laid out the way
    ingest actually writes it: day-partitioned, 512-row files in
    arrival order. Per file the manifest records row count and
    min/max ``user_id``, then renders the pruning VERDICT for two
    predicates: a 3-day time window (``prune_day``) and a
    ``user_id IN [0, 2]`` band (``prune_uid``). The point the output
    makes is the one that matters at 100 TB: the time predicate
    prunes almost every file of a time-ordered log, while the
    unclustered user band prunes almost none — which is exactly why
    the z-order twin (`zorder_skipping_effectiveness`) exists.
    Scale shape: the file-assignment window is PARTITIONED BY day
    (never a global row_number), and the manifest output is
    files×stats — millions of rows for a 100 TB table, not billions.
    All-NULL stats columns publish the -1 sentinel and a file with
    unknown stats is never pruned (``prune_uid = 0``)."""
    from pyspark.sql import Window

    from gostream_spark.io import load_table

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(F.to_date("ts").alias("day"), "ts", "event_id", "user_id")
    )
    w = Window.partitionBy("day").orderBy("ts", "event_id")
    filed = ev.select(
        "day",
        "user_id",
        F.floor((F.row_number().over(w) - 1) / 512.0).cast("bigint").alias("file_seq"),
    )
    stats = filed.groupBy("day", "file_seq").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(F.min("user_id"), F.lit(-1)).alias("uid_lo"),
        F.coalesce(F.max("user_id"), F.lit(-1)).alias("uid_hi"),
    )
    return stats.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "file_seq",
        "n_rows",
        "uid_lo",
        "uid_hi",
        F.when(
            (F.col("day") < F.lit("2024-01-10").cast("date"))
            | (F.col("day") > F.lit("2024-01-12").cast("date")),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("prune_day"),
        F.when(F.col("uid_lo") == -1, 0)
        .when((F.col("uid_hi") < 0) | (F.col("uid_lo") > 2), 1)
        .otherwise(0)
        .cast("int")
        .alias("prune_uid"),
    )


# --- S5 ext: z-order vs linear layout skipping effectiveness ------------

def _interleave_sql(xname: str, yname: str, bits: int) -> str:
    return " + ".join(
        f"((({xname} >> {i}) & 1) << {2 * i}) + ((({yname} >> {i}) & 1) << {2 * i + 1})"
        for i in range(bits)
    )


_ZEFF_ORACLE = f"""
WITH dims AS (
  SELECT event_id % 256 AS x,
         (CAST(date_part('minute', ts) AS BIGINT) * 60
          + CAST(date_part('second', ts) AS BIGINT)) % 256 AS y
  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL),
keyed AS (
  SELECT x, y, {_interleave_sql('x', 'y', 8)} AS zkey FROM dims),
placed AS (
  SELECT 'linear' AS layout, x >> 4 AS file_id, x, y FROM keyed
  UNION ALL
  SELECT 'zorder' AS layout, zkey >> 12 AS file_id, x, y FROM keyed),
file_stats AS (
  SELECT layout, file_id,
         CAST(count(*) AS BIGINT) AS n_rows,
         min(x) AS x_lo, max(x) AS x_hi,
         min(y) AS y_lo, max(y) AS y_hi
  FROM placed GROUP BY layout, file_id)
SELECT layout,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(n_rows) AS BIGINT) AS rows_total,
       CAST(sum(CASE WHEN x_hi >= 64 AND x_lo <= 79 THEN 1 ELSE 0 END) AS BIGINT)
         AS files_scanned_x,
       CAST(sum(CASE WHEN x_hi >= 64 AND x_lo <= 79 THEN n_rows ELSE 0 END) AS BIGINT)
         AS rows_scanned_x,
       CAST(sum(CASE WHEN y_hi >= 64 AND y_lo <= 79 THEN 1 ELSE 0 END) AS BIGINT)
         AS files_scanned_y,
       CAST(sum(CASE WHEN y_hi >= 64 AND y_lo <= 79 THEN n_rows ELSE 0 END) AS BIGINT)
         AS rows_scanned_y
FROM file_stats
GROUP BY layout
"""


@register("zorder_skipping_effectiveness", oracle=_ZEFF_ORACLE, tags=("S5", "F7", "ext"))
def zorder_skipping_effectiveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 ext: WHY Z-ORDER — measures, from per-file min/max stats
    alone (the mechanism a real scanner prunes with), how many files
    two layouts of the same events scan for an x-band and a y-band
    predicate. ``linear`` sorts by (x, y) into 16 equal-width x
    buckets: the x predicate hits 1/16 files but the y predicate
    scans ALL of them (y's min/max spans the full range in every
    file). ``zorder`` range-buckets the 8-bit Morton interleave
    (top 2 bits of each dimension): BOTH predicates land on ~4/16
    files — z-order trades the single-column optimum for a bounded
    worst case across every interleaved dimension, which is the
    correct layout when a 100 TB table serves more than one
    predicate column. Dimensions are wide at every SF by
    construction (entity shard ``event_id % 256``,
    second-of-hour bucket); everything is row-local integer bit
    math plus two tiny aggregates — no window, no global sort, so
    the measurement itself costs one scan at any scale. NULL-key
    rows are excluded on both sides (a writer routes them to a
    dedicated null shard)."""
    from gostream_spark.io import load_table

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("event_id").isNotNull())
        .select(
            (F.col("event_id") % 256).alias("x"),
            ((F.minute("ts").cast("long") * 60 + F.second("ts").cast("long")) % 256).alias(
                "y"
            ),
        )
    )
    zkey = None
    for i in range(_ZORDER_BITS):
        xbit = F.shiftleft(F.shiftright("x", i).bitwiseAND(F.lit(1)), 2 * i)
        ybit = F.shiftleft(F.shiftright("y", i).bitwiseAND(F.lit(1)), 2 * i + 1)
        zkey = xbit + ybit if zkey is None else zkey + xbit + ybit
    keyed = ev.select("x", "y", zkey.alias("zkey"))
    placed = keyed.select(
        F.lit("linear").alias("layout"),
        F.shiftright("x", 4).alias("file_id"),
        "x",
        "y",
    ).unionAll(
        keyed.select(
            F.lit("zorder").alias("layout"),
            F.shiftright("zkey", 12).alias("file_id"),
            "x",
            "y",
        )
    )
    file_stats = placed.groupBy("layout", "file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("x").alias("x_lo"),
        F.max("x").alias("x_hi"),
        F.min("y").alias("y_lo"),
        F.max("y").alias("y_hi"),
    )
    scan_x = (F.col("x_hi") >= 64) & (F.col("x_lo") <= 79)
    scan_y = (F.col("y_hi") >= 64) & (F.col("y_lo") <= 79)
    return file_stats.groupBy("layout").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("n_rows").cast("bigint").alias("rows_total"),
        F.sum(F.when(scan_x, 1).otherwise(0)).cast("bigint").alias("files_scanned_x"),
        F.sum(F.when(scan_x, F.col("n_rows")).otherwise(0))
        .cast("bigint")
        .alias("rows_scanned_x"),
        F.sum(F.when(scan_y, 1).otherwise(0)).cast("bigint").alias("files_scanned_y"),
        F.sum(F.when(scan_y, F.col("n_rows")).otherwise(0))
        .cast("bigint")
        .alias("rows_scanned_y"),
    )
