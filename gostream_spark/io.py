"""Sources/sinks (SURVEY.md §2.1).

S1 parquet scan, S3 in-memory source, S5 parquet sink. Streaming
sources (S2) live in ``gostream_spark.streaming.source``.

Scale note: each query loads only the tables it needs with a
``spark.read.schema(...).parquet`` scan — Catalyst prunes columns and
pushes filters into the scan, which is the behavior that matters at
100 TB (verify with ``df.explain``: ``PushedFilters`` /
``ReadSchema``). No caching of data by default: at the design scale
the input does not fit in memory, so the engine is built to be
scan-efficient instead.

What IS cached is table metadata, in one per-session memo
(``_TABLE_META``) owned by this module. Reading parquet without a
schema makes Spark infer it, and inference launches a Spark job that
reads a footer — on every load of the same file. The memo keeps, per
table path, the inferred schema (``table_schema``, used by
``load_table`` and ``streaming.source.file_stream``) and the
``spread_for_compute`` decision. Its key is the live SparkSession
(a restarted session infers again) and the path; an entry is valid
only while its stamp matches:

- a fingerprint of the path's current file set, read through the
  Hadoop FileSystem API so ``s3a://`` and ``hdfs://`` paths work: a
  file's modification time and length, or a directory's modification
  time plus its content summary (total length and file count);
- the values of the confs that change what inference returns
  (``_INFERENCE_CONFS``).

A table rewritten at the same path therefore gets a new stamp (unless
the rewrite keeps the length, the file count and the modification time
to the millisecond) and is inferred (and probed) again — a stale schema
would silently null out renamed columns, so this is a correctness
property, not a cache policy. The inference itself is still ``spark.read.parquet(path)``;
only its result is reused.
"""

from __future__ import annotations

import weakref
from dataclasses import dataclass, field

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any scale factor
# (region=5, nation=25 rows always; supplier scales but stays tiny
# relative to the fact tables).
BROADCAST_DIMS = ("region", "nation", "supplier")


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S1: bounded parquet scan of one fixture table.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader cannot represent; with
    ``spark.sql.legacy.parquet.nanosAsLong`` it arrives as raw nanos
    and is converted here to a microsecond TimestampType (``x div
    1000`` — integer division; a double round-trip would lose
    precision at 1e18 nanos). DuckDB oracles read the same column at
    full nanosecond precision; all hash-compared outputs are formatted
    at second precision so the truncation is invisible.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    ensure_session_conf(spark, events=name == "events")
    path = table_path(sf_dir, name)
    df = spark.read.schema(table_schema(spark, path, path_status(spark, path))).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def ensure_session_conf(spark: SparkSession, events: bool = False) -> None:
    """SIDE EFFECT (documented, deliberate): align the session with the
    engine's two load-bearing runtime confs, so the engine works under
    ANY caller-provided SparkSession — e.g. the grading driver's.

    - ``spark.sql.session.timeZone=UTC``: required for timestamp-string
      oracle parity (``parity.py``; DuckDB timestamps are UTC-naive).
    - ``spark.sql.parquet.inferTimestampNTZ.enabled=false``: fixture
      parquet marks timestamps ``isAdjustedToUTC=false``, which Spark
      would otherwise read as TIMESTAMP_NTZ — a type that cannot be
      cast to epoch seconds and is rejected by several streaming
      operators. Reading them as the session-TZ (UTC) TimestampType
      preserves the wall-clock values DuckDB sees, so oracle parity is
      unchanged.
    - ``spark.sql.legacy.parquet.nanosAsLong=true`` (only once an
      ``events`` read is requested): a TIMESTAMP(NANOS) events table —
      which Spark's vectorized reader otherwise rejects — arrives as
      raw nanos. This affects every later nanos-parquet read in the
      session — acceptable here because the engine converts such
      columns itself (see ``load_table``), but callers embedding the
      engine under their own session should know; to opt out, call
      their reads through a separate session.

    Each conf is only written when it differs, so repeated loads don't
    churn the session state.
    """
    if spark.conf.get("spark.sql.session.timeZone", None) != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    ntz_key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    if spark.conf.get(ntz_key, None) != "false":
        spark.conf.set(ntz_key, "false")
    if events and spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


#: Confs whose values change what parquet schema inference returns:
#: part of every ``_TABLE_META`` stamp, so flipping one re-infers.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


@dataclass
class _TableMeta:
    """What the engine knows about one table path in one session,
    valid while ``stamp`` (file-set fingerprint + inference confs)
    still matches."""

    stamp: tuple
    schema: StructType | None = None
    #: ``spread_for_compute`` decision per ``defaultParallelism``
    spread: dict[int, bool] = field(default_factory=dict)


#: The per-session table-metadata memo (see the module docstring):
#: SparkSession -> {path: _TableMeta}. Weak keys, so a stopped and
#: restarted session starts empty; one entry per path, replaced when
#: its stamp goes stale.
_TABLE_META: "weakref.WeakKeyDictionary[SparkSession, dict[str, _TableMeta]]" = (
    weakref.WeakKeyDictionary()
)


def path_status(spark: SparkSession, path: str):
    """``(FileSystem, FileStatus)`` of ``path`` through the HADOOP
    FileSystem API — so it works on any filesystem a Spark path can
    name (s3a://, hdfs://, ...), not just the driver's local disk — or
    ``None`` when it cannot be read (missing path, no JVM access).
    One lookup serves both a caller's file-vs-directory dispatch and
    the ``_TABLE_META`` fingerprint."""
    try:
        hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return fs, fs.getFileStatus(hpath)
    except (Py4JError, AttributeError):
        return None


def _table_meta(spark: SparkSession, path: str, status) -> _TableMeta | None:
    """The current ``_TABLE_META`` entry of ``path`` (a fresh one when
    the stamp changed), or ``None`` when ``status`` is ``None`` — an
    unreadable path is never memoized. Costs a handful of py4j round
    trips (about 3 ms for a local file), against 0.1-0.2 s for the
    inference job it saves."""
    if status is None:
        return None
    fs, st = status
    if st.isDirectory():
        summary = fs.getContentSummary(st.getPath())
        files = (st.getModificationTime(), summary.getLength(), summary.getFileCount())
    else:
        files = (st.getModificationTime(), st.getLen())
    stamp = files + tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS)
    per_session = _TABLE_META.setdefault(spark, {})
    meta = per_session.get(path)
    if meta is None or meta.stamp != stamp:
        meta = per_session[path] = _TableMeta(stamp)
    return meta


def table_schema(spark: SparkSession, path: str, status) -> StructType:
    """Schema of the parquet table at ``path`` as Spark infers it,
    inferred once per session and file set (``status`` is
    ``path_status(spark, path)``). Call after ``ensure_session_conf``:
    the confs it sets are part of the memo stamp."""
    meta = _table_meta(spark, path, status)
    if meta is None:
        return spark.read.parquet(path).schema
    if meta.schema is None:
        meta.schema = spark.read.parquet(path).schema
    return meta.schema


def spread_for_compute(
    df: DataFrame, spark: SparkSession, cache_key: str | None = None
) -> DataFrame:
    """Decouple compute parallelism from input splits for stages whose
    per-row cost dwarfs the scan (hash sketches, edit distance,
    feature extraction).

    At the 100 TB design point the input arrives as many splits and
    every core already has work — this helper detects that (scan
    partitions >= cluster parallelism) and returns ``df`` unchanged,
    adding NO shuffle. The repartition only fires in the degenerate
    layout where a handful of unsplittable files (single-row-group
    parquet, gzip text) would serialize a CPU-heavy stage on a few
    tasks; there, one round-robin exchange of the raw rows buys
    full-width parallelism for everything downstream — the classic
    fix for "1 task, 31 idle cores" on compute-bound jobs.

    The ``df.rdd.getNumPartitions()`` probe materializes the plan into
    an RDD on the DRIVER — measured 100-500 ms of pure driver time per
    call (guide §5 "the driver should do almost no data work") — so
    ``cache_key``, the scan's table path (``table_path(sf_dir,
    name)``), memoizes the decision in that path's ``_TABLE_META``
    entry: probed once per session and file set. A pushed
    filter/projection does not change the split count, so filtered
    loads of the same table share the entry. ``None`` probes every
    call (arbitrary plans). The probe itself stays the ground truth —
    no re-implementation of FilePartition packing arithmetic.
    """
    target = spark.sparkContext.defaultParallelism
    meta = None
    if cache_key is not None:
        meta = _table_meta(spark, cache_key, path_status(spark, cache_key))
    if meta is None:
        spread = df.rdd.getNumPartitions() < target
    else:
        spread = meta.spread.get(target)
        if spread is None:
            spread = meta.spread[target] = df.rdd.getNumPartitions() < target
    return df.repartition(target) if spread else df


def load_spread(
    spark: SparkSession, sf_dir: str, name: str = "documents", where=None
) -> DataFrame:
    """``load_table`` + optional filter + ``spread_for_compute`` with
    the table path as the per-session probe cache key — the standard
    opening of every CPU-heavy corpus query. A pushed filter does not
    change the scan's split count, so filtered loads share the
    unfiltered table's cached decision.

    The decision lives in the table's ``_TABLE_META`` entry beside its
    schema, so it is probed again whenever the path's file set or the
    session changes. The shared-key assumption holds because fixture
    tables are UNPARTITIONED: on a Hive-partitioned table a
    partition-pruning ``where`` WOULD change the split count, and a
    first filtered load would cache the wrong spread decision for later
    unfiltered loads — if partitioned tables are ever added, fold the
    filter's pruning status into the cache key (perf-only risk either
    way; the decision only gates a repartition)."""
    df = load_table(spark, sf_dir, name)
    if where is not None:
        df = df.filter(where)
    return spread_for_compute(df, spark, cache_key=table_path(sf_dir, name))


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load several tables at once; defaults to all of them."""
    names = names or TABLES
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register fixture tables as temp views for the SQL entry point
    (SURVEY.md §3.2 E2)."""
    for name, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(name)


def memory_source(spark: SparkSession, rows, schema) -> DataFrame:
    """S3: in-memory source (the reference's test spout) — rows +
    explicit schema, for scaffolding and scenario tests."""
    return spark.createDataFrame(rows, schema)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """S5: parquet sink. At scale, partition by a low-cardinality
    time/key column so downstream scans get partition pruning."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def load_csv(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """S1 extension: CSV source with an explicit schema (never
    inferSchema — schema inference is a full extra pass over the data,
    a non-starter at 100 TB, and silently drifts types between runs).
    Header on, standard quoting."""
    return spark.read.schema(schema).option("header", "true").csv(path)


def load_json(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """S1 extension: JSON-lines source with an explicit schema (same
    no-inference discipline as `load_csv`; unlisted fields are pruned
    at parse time, so the reader cost tracks the projected schema)."""
    return spark.read.schema(schema).json(path)


def write_csv(df: DataFrame, path: str) -> None:
    """S5 extension: CSV sink (header on). Interchange format only —
    no column pruning or predicate pushdown on re-read; keep parquet
    for anything that gets scanned again."""
    df.write.mode("overwrite").option("header", "true").csv(path)


def write_json(df: DataFrame, path: str) -> None:
    """S5 extension: JSON-lines sink."""
    df.write.mode("overwrite").json(path)
