"""Driver-visible streaming queries (SURVEY.md §2.1 S2/S4-S6, §2.7
T1/T4-T8 executed for real, not batch-twinned).

Each entry builds a genuine Structured Streaming pipeline (readStream
file source → watermark → stateful op → sink), drives it to
completion with an ``availableNow`` trigger, and returns the
materialized sink as a batch DataFrame — which makes true streaming
execution oracle-checkable: with all input available, the final
result must equal the batch-SQL answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gostream_spark.functions.sketches import minhash_band_table, minhash_khash_sig
from gostream_spark.io import load_table
from gostream_spark.parity import TS_FMT_DUCK, ts_str
# A streaming twin of a batch query shares its oracle: both must
# give the same answer on the same input.
from gostream_spark.queries.allocation_ops import _LINDLEY_ORACLE
from gostream_spark.queries.event_time import _COUNT_WIN_ORACLE, _T3_ORACLE
from gostream_spark.queries.joins import _J10_ORACLE
from gostream_spark.queries.windows import _CDC_ORACLE
from gostream_spark.registry import register
from gostream_spark.streaming import (
    dedup_stream,
    enrich_stream,
    file_stream,
    run_available_now,
    run_foreach_batch,
    run_foreach_batch_parquet,
    running_count_stateful,
    windowed_counts,
)

# --- S2+T1+T4+T7+T8: watermarked windowed counts, complete mode ---------

_TUMBLE_ORACLE = f"""
SELECT strftime(date_trunc('day', ts), '{TS_FMT_DUCK}') AS win_start,
       event_type,
       count(*) AS event_cnt
FROM events GROUP BY 1, 2
"""


@register(
    "streaming_tumbling_counts",
    oracle=_TUMBLE_ORACLE,
    tags=("S2", "T1", "T4", "T7", "T8"),
    bench=True,
)
def streaming_tumbling_counts(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming T1: file-stream source → 1h watermark → daily
    tumbling counts → memory sink in COMPLETE mode, availableNow.
    With the whole fixture available, the final complete-mode table
    must equal the batch group-by — the oracle asserts exactly that.

    max_files_per_trigger (probe knob, default None = all files in
    one batch): replay a sharded fixture N files per micro-batch so
    tools/streaming_decade_probe.py can observe state accumulating
    across batches; semantics are unchanged (availableNow drains
    everything either way)."""
    ev = file_stream(spark, sf_dir, "events", max_files_per_trigger)
    result = run_available_now(
        windowed_counts(ev), output_mode="complete"
    )
    return result.select(
        ts_str("w.start").alias("win_start"), "event_type", "event_cnt"
    )


# --- T5+T4: streaming dedup over a duplicated stream --------------------

_DEDUP_ORACLE = """
SELECT count(*) AS n_events, count(DISTINCT user_id) AS n_users FROM events
"""


@register("streaming_dedup", oracle=_DEDUP_ORACLE, tags=("S2", "T4", "T5"))
def streaming_dedup(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming T5: the stream unioned with itself (every event twice)
    → watermarked dropDuplicates on event_id → append-mode memory
    sink. The dedup must collapse the union back to the original
    event set. max_files_per_trigger: probe replay knob (see
    streaming_tumbling_counts)."""
    ev = file_stream(spark, sf_dir, "events", max_files_per_trigger)
    doubled = ev.union(
        file_stream(spark, sf_dir, "events", max_files_per_trigger)
    )
    # unbounded_state: the fixture's event_id keyspace is the bounded
    # replay set, the regime the r12 API guard admits explicitly.
    deduped = dedup_stream(doubled, keys=["event_id"], unbounded_state=True)
    result = run_available_now(
        deduped, output_mode="append"
    )
    return result.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


# --- J9 streaming twin: stream-static enrichment ------------------------

_ENRICH_ORACLE = """
SELECT c_mktsegment, count(*) AS event_cnt
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


@register("streaming_enriched_counts", oracle=_ENRICH_ORACLE, tags=("S2", "J9"))
def streaming_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming J9: event stream joined per micro-batch to the static
    customer dim (broadcast), appended to the memory sink, then
    aggregated — equals the batch join."""
    ev = file_stream(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    enriched = enrich_stream(ev, customer, ev.user_id == customer.c_custkey)
    result = run_available_now(
        enriched.select("event_id", "c_mktsegment"), output_mode="append"
    )
    return result.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("event_cnt"))


# --- T6: arbitrary stateful op (applyInPandasWithState) -----------------

_STATEFUL_ORACLE = """
SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
"""


@register("streaming_stateful_counts", oracle=_STATEFUL_ORACLE, tags=("S2", "T6", "T8"))
def streaming_stateful_counts(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming T6: per-user running counts held in explicit group
    state (the stateful bolt), update-mode memory sink. The sink holds
    one row per (key, update); the latest update per key — i.e. the
    max running count — must equal the batch per-user count.
    max_files_per_trigger: probe replay knob (see
    streaming_tumbling_counts)."""
    ev = file_stream(spark, sf_dir, "events", max_files_per_trigger)
    updates = running_count_stateful(ev)
    result = run_available_now(
        updates, output_mode="update"
    )
    return result.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


# --- J10 for real: watermarked stream-stream join -----------------------


def _purchase_click_join(
    spark: SparkSession,
    sf_dir: str,
    how: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The J10 stream pair: purchases ``(purchase_id, p_user, p_ts)``
    joined ``how`` (inner / left_outer / full_outer) to clicks
    ``(click_id, c_user, c_ts)`` of the same user at most one hour
    before the purchase. Both sides carry a 1-hour watermark, so the
    time-range condition bounds the join state Spark must hold."""

    def side(event_type: str, id_col: str, prefix: str) -> DataFrame:
        return (
            file_stream(spark, sf_dir, "events", max_files_per_trigger)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(id_col),
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", "1 hour")
        )

    return side("purchase", "purchase_id", "p").join(
        side("click", "click_id", "c"),
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        how,
    )


@register("streaming_stream_stream_join", oracle=_J10_ORACLE, tags=("S2", "J10", "T4"))
def streaming_stream_stream_join(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """J10 executed as a REAL stream-stream join: both sides
    watermarked, the time-range condition bounds the join state Spark
    must hold (clicks older than purchase-watermark - 1h are evicted).
    With all input available, the appended matches equal the batch
    join — the oracle asserts exactly that. max_files_per_trigger:
    probe replay knob (see streaming_tumbling_counts)."""
    joined = _purchase_click_join(
        spark, sf_dir, "inner", max_files_per_trigger
    ).select("purchase_id", "click_id", F.col("p_user").alias("user_id"))
    return run_available_now(joined, output_mode="append")


# --- S5/S6: foreachBatch parquet sink round-trip ------------------------

_SINK_ORACLE = """
SELECT event_type, count(*) AS event_cnt FROM events GROUP BY event_type
"""


@register("streaming_sink_roundtrip", oracle=_SINK_ORACLE, tags=("S2", "S5", "S6"))
def streaming_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/S6: stream → foreachBatch → parquet sink (append per
    micro-batch) → re-read the sink and aggregate. Proves the
    arbitrary-sink edge: what lands in the files is exactly the stream
    contents."""
    ev = file_stream(spark, sf_dir, "events").select("event_id", "event_type")
    session, out = run_foreach_batch_parquet(ev)
    return (
        session.read.parquet(out)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("event_cnt"))
    )


# --- S2+T2: sliding (hopping) window executed as a real stream ----------

_SLIDING_STREAM_ORACLE = f"""
WITH slotted AS (
  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS slot, event_type
  FROM events
), expanded AS (
  SELECT (slot - offs.i) * 3600 AS win_epoch, event_type
  FROM slotted, (VALUES (0), (1), (2), (3), (4), (5)) offs(i)
)
SELECT strftime(TIMESTAMP '1970-01-01 00:00:00' + to_seconds(win_epoch),
                '{TS_FMT_DUCK}') AS win_start,
       event_type,
       count(*) AS event_cnt
FROM expanded
GROUP BY 1, 2
"""


@register("streaming_sliding_counts", oracle=_SLIDING_STREAM_ORACLE, tags=("S2", "T2", "T4", "T7"))
def streaming_sliding_counts(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming T2: file-stream source → watermark → 6h windows
    sliding hourly → complete-mode memory sink, availableNow. Each
    event expands into 6 window states map-side and collapses in the
    partial aggregate; with all input available the final table must
    equal the batch hop expansion the oracle computes (the batch twin
    is `sliding_window`). max_files_per_trigger: probe replay knob
    (see streaming_tumbling_counts)."""
    ev = file_stream(
        spark, sf_dir, "events", max_files_per_trigger
    ).withWatermark("ts", "10 hours")
    agg = ev.groupBy(
        F.window("ts", "6 hours", "1 hour").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("event_cnt"))
    result = run_available_now(agg, output_mode="complete")
    return result.select(ts_str("w.start").alias("win_start"), "event_type", "event_cnt")


# --- T3 streaming: session windows --------------------------------------


@register("streaming_session_counts", oracle=_T3_ORACLE, tags=("S2", "T3", "T4", "T7"))
def streaming_session_counts(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming T3: file-stream source → watermark → 30-minute-gap
    session windows per user → complete-mode memory sink, availableNow.
    Session state merges across micro-batches (adjacent sessions
    collapse when a bridging event arrives); with all input available
    the final table must equal the batch sessionization — the same
    lag-gap oracle SQL as the batch twin `session_window`.
    max_files_per_trigger: probe replay knob (see
    streaming_tumbling_counts)."""
    from gostream_spark.operators import session_windowed

    ev = file_stream(
        spark, sf_dir, "events", max_files_per_trigger
    ).withWatermark("ts", "1 hour")
    sess = session_windowed(
        ev,
        "ts",
        "30 minutes",
        keys=("user_id",),
        aggs=(F.count(F.lit(1)).alias("event_cnt"),),
    )
    result = run_available_now(sess, output_mode="complete")
    return result.select(
        "user_id",
        ts_str("w.start").alias("session_start"),
        ts_str("w.end").alias("session_end"),
        "event_cnt",
    )


# --- L8 streaming: corpus quality gate on a document stream -------------

_STREAM_QUALITY_ORACLE = """
WITH tok AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tk
             FROM documents),
cnt AS (SELECT doc_id, source, tk, count(*) AS c FROM tok GROUP BY 1, 2, 3),
agg AS (SELECT doc_id, source, max(c) AS maxc, sum(c) AS n,
               count(*) AS ndist
        FROM cnt GROUP BY 1, 2)
SELECT source,
       (10000 * maxc // n <= 2000 AND 10000 * ndist // n >= 4000)
         AS quality_pass,
       count(*) AS doc_cnt,
       CAST(sum(n) AS BIGINT) AS token_cnt
FROM agg GROUP BY 1, 2
"""


@register(
    "streaming_corpus_quality",
    oracle=_STREAM_QUALITY_ORACLE,
    tags=("S2", "L8", "T7", "ext"),
)
def streaming_corpus_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming L8: the corpus quality gate as a STREAM job — the
    shape of continuous ingest curation (crawl lands as files, the
    gate classifies as they arrive). The repetition stats are the
    same row-local HOF the batch gate uses (`top_token_run_max` —
    stateless, so the streaming plan needs no state store for them);
    only the per-(source, verdict) count is a stateful aggregate.
    Complete-mode memory sink + availableNow makes it exactly
    comparable to the batch oracle."""
    from gostream_spark.functions.sketches import top_token_run_max

    docs = file_stream(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    gated = docs.select(
        "source",
        F.size(toks).cast("long").alias("n_tokens"),
        top_token_run_max(toks).cast("long").alias("maxc"),
        F.size(F.array_distinct(toks)).cast("long").alias("ndist"),
    ).select(
        "source",
        "n_tokens",
        F.expr(
            "10000 * maxc div n_tokens <= 2000 AND 10000 * ndist div n_tokens >= 4000"
        ).alias("quality_pass"),
    )
    agg = gated.groupBy("source", "quality_pass").agg(
        F.count(F.lit(1)).alias("doc_cnt"),
        F.sum("n_tokens").cast("bigint").alias("token_cnt"),
    )
    return run_available_now(agg, output_mode="complete")


# --- S1/S2 ext: JSON-lines file STREAM source ---------------------------


@register(
    "streaming_jsonl_source",
    oracle=_SINK_ORACLE,
    tags=("S1", "S2", "T7", "ext"),
)
def streaming_jsonl_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 ext: streaming ingest from JSON-lines files — the
    crawl-delivery format read as a STREAM (explicit schema; no
    inference pass, which a file stream cannot do anyway). The event
    subset is staged to .tmp as JSONL once per run, then consumed via
    readStream.json → per-type counts → complete-mode memory sink;
    equals the batch aggregate over the same rows."""
    from gostream_spark.streaming.runner import _sink_dir

    path = _sink_dir()
    subset = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    subset.write.mode("overwrite").json(path)
    sdf = (
        spark.readStream.schema("event_id BIGINT, event_type STRING")
        .option("maxFilesPerTrigger", 4)
        .json(path)
    )
    agg = sdf.groupBy("event_type").agg(F.count(F.lit(1)).alias("event_cnt"))
    return run_available_now(agg, output_mode="complete")


# --- T6 second shape: set-valued state ----------------------------------

_DISTINCT_TYPES_ORACLE = """
SELECT user_id, count(DISTINCT event_type) AS n_distinct_types
FROM events GROUP BY user_id
"""


@register(
    "streaming_distinct_types_stateful",
    oracle=_DISTINCT_TYPES_ORACLE,
    tags=("S2", "T6", "T8", "ext"),
)
def streaming_distinct_types_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 with SET-valued state: per-user distinct event types held in
    an explicit state handle (dedup-within-key bolt), update-mode
    memory sink; the max emission per key equals the batch
    count-distinct."""
    from gostream_spark.streaming import distinct_types_stateful

    ev = file_stream(spark, sf_dir, "events")
    updates = distinct_types_stateful(ev)
    result = run_available_now(updates, output_mode="update")
    return result.groupBy("user_id").agg(
        F.max("n_distinct_types").alias("n_distinct_types")
    )


@register(
    "streaming_csv_source",
    oracle=_SINK_ORACLE,
    tags=("S1", "S2", "T7", "ext"),
)
def streaming_csv_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 ext: CSV files consumed as a STREAM (header-less parts,
    explicit schema, maxFilesPerTrigger batching) — the
    log-shipping/ingest-edge twin of `streaming_jsonl_source`;
    equals the batch aggregate over the same rows."""
    from gostream_spark.streaming.runner import _sink_dir

    path = _sink_dir()
    subset = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    subset.write.mode("overwrite").csv(path)
    sdf = (
        spark.readStream.schema("event_id BIGINT, event_type STRING")
        .option("maxFilesPerTrigger", 4)
        .csv(path)
    )
    agg = sdf.groupBy("event_type").agg(F.count(F.lit(1)).alias("event_cnt"))
    return run_available_now(agg, output_mode="complete")


# --- S2+T1+W5: streaming windowed top-k ---------------------------------

_TOPK_WIN_ORACLE = f"""
SELECT win_start, event_type, event_cnt, rn FROM (
  SELECT strftime(date_trunc('day', ts), '{TS_FMT_DUCK}') AS win_start,
         event_type,
         count(*) AS event_cnt,
         row_number() OVER (PARTITION BY date_trunc('day', ts)
                            ORDER BY count(*) DESC, event_type) AS rn
  FROM events
  GROUP BY date_trunc('day', ts), event_type)
WHERE rn <= 2
"""


@register(
    "streaming_topk_per_window",
    oracle=_TOPK_WIN_ORACLE,
    tags=("S2", "T1", "T4", "W5", "T8"),
)
def streaming_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming W5: the stream maintains watermarked daily counts
    (complete mode — the state Structured Streaming serves a live
    leaderboard from); the top-2-per-window rank runs over the sink
    table, whose size is windows × event-types, independent of stream
    volume. That split (heavy agg in the stream, cheap rank at read)
    is the production design for continuous top-k — ranking inside
    the stream would re-rank every window on every trigger for no
    benefit under append-style sinks."""
    from pyspark.sql import Window

    ev = file_stream(spark, sf_dir, "events")
    counts = run_available_now(windowed_counts(ev), output_mode="complete")
    w = Window.partitionBy("w").orderBy(F.desc("event_cnt"), "event_type")
    return (
        counts.select(
            "w",
            "event_type",
            "event_cnt",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 2)
        .select(ts_str("w.start").alias("win_start"), "event_type", "event_cnt", "rn")
    )


# --- T6 numeric-recurrence state: streaming EWMA ------------------------

_EWMA_STATEFUL_ORACLE = """
SELECT user_id,
       CAST(n AS BIGINT) AS n_events,
       round(list_reduce(vals, (acc, x) -> 0.5 * acc + 0.5 * x), 6) AS ewma
FROM (SELECT user_id, count(*) AS n,
             list(value ORDER BY ts, event_id) AS vals
      FROM events GROUP BY user_id)
"""


@register(
    "streaming_ewma_stateful",
    oracle=_EWMA_STATEFUL_ORACLE,
    tags=("S2", "T6", "T8"),
)
def streaming_ewma_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming T6 with ORDER-SENSITIVE numeric state: per-user EWMA
    folded in event-time order inside the state store, update-mode
    sink, latest update per user (max_by on the monotonic event
    count). The DuckDB oracle replays the identical left fold with
    list_reduce over the time-ordered value list — every step is an
    exact IEEE halving, so streaming state and SQL recurrence agree
    bit for bit (round-6 is belt and braces)."""
    from gostream_spark.streaming import ewma_stateful

    ev = file_stream(spark, sf_dir, "events")
    updates = ewma_stateful(ev)
    result = run_available_now(updates, output_mode="update")
    return result.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.round(F.max_by("ewma", "n_events"), 6).alias("ewma"),
    )


# --- T6 derived-event emission: streaming transition counts -------------

_STREAM_TRANS_ORACLE = """
WITH seq AS (
  SELECT event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events)
SELECT prev_type, event_type AS next_type, count(*) AS n
FROM seq WHERE prev_type IS NOT NULL
GROUP BY 1, 2
"""


@register(
    "streaming_transition_counts",
    oracle=_STREAM_TRANS_ORACLE,
    tags=("S2", "T6", "W2"),
)
def streaming_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `event_transition_matrix`: per-user state
    carries the LAST event type across micro-batches and emits each
    completed (prev → next) pair — a per-batch lag() would drop every
    boundary-straddling transition; explicit state is the only
    correct streaming form. The sink sums the per-batch partial
    counts into the global matrix, which must equal the batch lag()
    oracle."""
    from gostream_spark.streaming import transition_counts_stateful

    ev = file_stream(spark, sf_dir, "events")
    updates = transition_counts_stateful(ev)
    result = run_available_now(updates, output_mode="append")
    return result.groupBy("prev_type", "next_type").agg(
        F.sum("n").cast("long").alias("n")
    )


# --- T6 timers: processing-time eviction, driver-checkable ---------------

_TIMEOUT_ORACLE = """
SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
"""


@register("streaming_session_timeout", oracle=_TIMEOUT_ORACLE, tags=("S2", "T6", "T8"))
def streaming_session_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 with TIMERS, oracle-checked: per-user counts whose state is
    CLOSED by a ProcessingTimeTimeout — each idle key's timed-out
    callback emits one final 'timeout' record with its full count and
    removes the state. The fixture is a single parquet file, so ALL
    events land in micro-batch 1 (full counts armed together) and the
    subsequent no-data batches fire every eviction exactly once —
    which makes the timeout rows deterministic: exactly the batch
    per-user counts, asserted by the exact oracle.

    Driven by ``run_until`` (processing-time trigger, bounded by
    observed output), because availableNow can never terminate a
    ProcessingTimeTimeout query — see ``session_timeout_stateful``.
    The predicate's expected-user count is one metadata-scale batch
    aggregate; like the memory-sink harness itself it is
    driver-side TEST SCAFFOLDING, not part of the streaming plan."""
    from gostream_spark.streaming.ops import session_timeout_stateful
    from gostream_spark.streaming.runner import run_until

    n_users = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    ev = file_stream(spark, sf_dir, "events")
    closed = session_timeout_stateful(ev, timeout_ms=300)

    def _all_closed(sink_df: DataFrame) -> bool:
        return (
            sink_df.filter(F.col("closed") == "timeout")
            .select("user_id")
            .distinct()
            .count()
            >= n_users
        )

    result = run_until(
        closed,
        _all_closed,
        output_mode="update",
        timeout_sec=120,
        poll_sec=0.15,
    )
    return (
        result.filter(F.col("closed") == "timeout")
        .select("user_id", "n_events")
    )


# --- J10 outer flavor: watermarked LEFT OUTER stream-stream join --------

_SS_OUTER_ORACLE = """
WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts FROM events
           WHERE event_type = 'purchase'),
     c AS (SELECT event_id AS click_id, user_id, ts AS c_ts FROM events
           WHERE event_type = 'click'),
     wm AS (SELECT least((SELECT max(p_ts) FROM p),
                         (SELECT max(c_ts) FROM c)) - INTERVAL 1 HOUR AS w)
SELECT p.purchase_id, coalesce(c.click_id, -1) AS click_id, p.user_id
FROM p LEFT JOIN c
  ON p.user_id = c.user_id
 AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
 AND c.c_ts <= p.p_ts
WHERE c.click_id IS NOT NULL OR p.p_ts <= (SELECT w FROM wm)
"""


@register(
    "streaming_stream_stream_left_join",
    oracle=_SS_OUTER_ORACLE,
    tags=("S2", "J10", "T4", "T8"),
)
def streaming_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10 LEFT OUTER stream-stream join — the semantically hard
    flavor: an unmatched purchase can only emit its null-padded row
    once the CLICK watermark proves no matching click can still
    arrive, so correctness depends on state eviction, not just
    matching. Spark's trailing no-data micro-batch advances the
    watermark after the last input batch and flushes those rows;
    without it the unmatched side would be silently missing under
    availableNow. Purchases still INSIDE the final watermark
    (p_ts > min(max_p_ts, max_c_ts) - 1h) stay open and correctly do
    NOT emit — the oracle encodes exactly that streaming semantic
    (verified row-exact against the engine's eviction boundary).
    Null click_id is surfaced as the -1 sentinel (engine
    hashed-output convention)."""
    joined = _purchase_click_join(spark, sf_dir, "left_outer").select(
        "purchase_id",
        F.coalesce("click_id", F.lit(-1)).alias("click_id"),
        F.col("p_user").alias("user_id"),
    )
    return run_available_now(joined, output_mode="append")


# --- T5 within-watermark dedup (bounded state, unlike dropDuplicates) ---

_DEDUP_WW_ORACLE = """
SELECT count(*) AS n_events, count(DISTINCT user_id) AS n_users FROM events
"""


@register(
    "streaming_dedup_within_watermark",
    oracle=_DEDUP_WW_ORACLE,
    tags=("S2", "T4", "T5"),
)
def streaming_dedup_within_watermark(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """T5 via ``dropDuplicatesWithinWatermark``: unlike plain
    streaming dropDuplicates (whose key state grows forever), each
    key's state is dropped once the watermark passes its event time +
    delay — the ONLY dedup form whose state is bounded on an
    unbounded keyspace, i.e. the one you actually run at 100 TB/day.
    The self-unioned stream (every event twice, duplicates arriving
    within the 1h delay) must collapse back to the original event
    set. max_files_per_trigger: probe replay knob (see
    streaming_tumbling_counts) — the decade probe uses it to MEASURE
    the bounded-state claim against plain streaming_dedup's monotone
    growth."""
    ev = file_stream(
        spark, sf_dir, "events", max_files_per_trigger
    ).withWatermark("ts", "1 hour")
    doubled = ev.union(
        file_stream(
            spark, sf_dir, "events", max_files_per_trigger
        ).withWatermark("ts", "1 hour")
    )
    deduped = doubled.dropDuplicatesWithinWatermark(["event_id"])
    result = run_available_now(
        deduped, output_mode="append"
    )
    return result.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


# --- T6: Storm-style count windows as a real stream ---------------------


@register(
    "streaming_count_window_stateful",
    oracle=_COUNT_WIN_ORACLE,
    tags=("S2", "T6", "T8"),
)
def streaming_count_window_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 count windows executed as a REAL stream: per-user tuple
    windows of 5 via applyInPandasWithState (buffer + window counter
    in state, O(N) per key). The single-file fixture arrives as one
    micro-batch, so in-batch (ts, event_id) ordering makes every
    window assignment deterministic and the appended output must
    equal the batch chunking — the exact oracle asserts it. The <5
    remainder per user stays in state and never emits, matching the
    batch twin's HAVING n = 5."""
    from gostream_spark.streaming.ops import count_window_stateful

    ev = file_stream(spark, sf_dir, "events")
    return run_available_now(count_window_stateful(ev), output_mode="append")


# --- L8+J9+S6: streaming benchmark decontamination ----------------------

_STREAM_DECON_ORACLE = """
WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT doc_id, source,
         unnest(list_transform(range(len(t) - 3),
                               i -> array_to_string(t[i+1:i+4], ' '))) AS g
  FROM toks),
bench AS (SELECT DISTINCT g FROM grams WHERE source = 'src0'),
contaminated AS (
  SELECT DISTINCT doc_id FROM grams
  WHERE source <> 'src0' AND g IN (SELECT g FROM bench)
)
SELECT source, count(*) AS clean_docs
FROM toks
WHERE source <> 'src0' AND doc_id NOT IN (SELECT doc_id FROM contaminated)
GROUP BY source
"""


@register(
    "streaming_decontaminate_anti",
    oracle=_STREAM_DECON_ORACLE,
    tags=("S2", "S6", "J9", "L8"),
)
def streaming_decontaminate_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus decontamination — the production ingest shape:
    documents arrive as a stream; each micro-batch explodes its
    4-grams, left-SEMI joins the (static, broadcastable) benchmark
    gram set to find contaminated doc ids, LEFT ANTI joins them away,
    and appends only the clean rows to the sink (foreachBatch gives
    the batch API per micro-batch). The benchmark set is MBs even at
    100 TB corpus scale, so the per-batch join is a broadcast — the
    stream side never shuffles. Final sink contents = the batch
    decontamination's clean set, asserted by the oracle."""
    from gostream_spark.queries.corpus_ops import _word_ngrams
    from gostream_spark.streaming.runner import _sink_dir

    bench = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("source") == "src0")
        .select(F.explode(_word_ngrams(F.split("text", " "), 4)).alias("g"))
        .distinct()
    )
    out = _sink_dir()

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        cand = batch_df.filter(F.col("source") != "src0")
        grams = cand.select(
            "doc_id", F.explode(_word_ngrams(F.split("text", " "), 4)).alias("g")
        )
        contaminated = (
            grams.join(F.broadcast(bench), "g", "left_semi")
            .select("doc_id")
            .distinct()
        )
        clean = cand.join(contaminated, "doc_id", "left_anti")
        clean.select("doc_id", "source").write.mode("append").parquet(out)

    run_foreach_batch(file_stream(spark, sf_dir, "documents"), write_batch)
    return (
        spark.read.parquet(out)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("clean_docs"))
    )


# --- S2+T4+T6: EventTimeTimeout watermark-closed sessions ---------------

_ET_SESSION_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, ts, event_id,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
), flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN prev_ts IS NULL
                   OR ts >= prev_ts + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
  FROM ordered
), numbered AS (
  SELECT user_id, ts, event_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_no
  FROM flagged
), sess AS (
  SELECT user_id, session_no,
         strftime(min(ts), '{TS_FMT_DUCK}') AS session_start,
         strftime(max(ts) + INTERVAL 30 MINUTE, '{TS_FMT_DUCK}') AS session_end,
         count(*) AS event_cnt,
         max(ts) AS last_ts,
         max(session_no) OVER (PARTITION BY user_id) AS last_session_no
  FROM numbered
  GROUP BY user_id, session_no
)
SELECT user_id, session_start, session_end, event_cnt
FROM sess
WHERE session_no < last_session_no
   OR last_ts + INTERVAL 30 MINUTE < (SELECT max(ts) FROM events)
"""


@register(
    "streaming_session_eventtime_timeout",
    oracle=_ET_SESSION_ORACLE,
    tags=("S2", "T3", "T4", "T6", "T8", "ext"),
)
def streaming_session_eventtime_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 with EVENT-TIME timers: per-user sessions closed by the
    WATERMARK (``GroupStateTimeout.EventTimeTimeout``), completing the
    timeout matrix next to the NoTimeout and ProcessingTimeTimeout
    shapes. Gap closes inside a batch emit in-line; idle sessions
    close when the advancing watermark strictly passes their
    ``last + 30min`` horizon (Spark fires event-time timers on
    ``timeout < watermark`` — pinned by the boundary case in the
    oracle). The exact emitted set is therefore: every non-final
    session per user (its successor event proves the gap) plus final
    sessions whose horizon lies strictly before the stream's max
    event time — which the oracle states in SQL, making a
    timer-driven stateful operator exact-checkable."""
    from gostream_spark.streaming import event_session_stateful

    ev = file_stream(spark, sf_dir, "events")
    return run_available_now(
        event_session_stateful(ev), output_mode="append"
    )


# --- L10+L2+J9: streaming MinHash-LSH near-dup candidate detection ------

_STREAM_NEARDUP_ORACLE = """
WITH sub AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
), sh AS (
  SELECT DISTINCT doc_id, source,
         unnest(list_transform(range(1, len(toks) - 1),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
           AS shingle
  FROM sub WHERE len(toks) >= 3
), sig AS (
  SELECT doc_id, source,
         min(substr(md5(shingle || '#0'), 1, 15)) AS mh0,
         min(substr(md5(shingle || '#1'), 1, 15)) AS mh1,
         min(substr(md5(shingle || '#2'), 1, 15)) AS mh2,
         min(substr(md5(shingle || '#3'), 1, 15)) AS mh3,
         min(substr(md5(shingle || '#4'), 1, 15)) AS mh4,
         min(substr(md5(shingle || '#5'), 1, 15)) AS mh5,
         min(substr(md5(shingle || '#6'), 1, 15)) AS mh6,
         min(substr(md5(shingle || '#7'), 1, 15)) AS mh7
  FROM sh GROUP BY doc_id, source
), bands AS (
  SELECT doc_id, source, 0 AS band_id, md5(mh0 || mh1) AS band_hash FROM sig
  UNION ALL SELECT doc_id, source, 1, md5(mh2 || mh3) FROM sig
  UNION ALL SELECT doc_id, source, 2, md5(mh4 || mh5) FROM sig
  UNION ALL SELECT doc_id, source, 3, md5(mh6 || mh7) FROM sig
)
SELECT n.doc_id, CAST(count(DISTINCT c.doc_id) AS BIGINT) AS n_candidates
FROM bands n
JOIN bands c ON n.band_id = c.band_id AND n.band_hash = c.band_hash
WHERE n.source = 'src1' AND c.source <> 'src1'
GROUP BY n.doc_id
"""


@register(
    "streaming_neardup_candidates",
    oracle=_STREAM_NEARDUP_ORACLE,
    tags=("L10", "L2", "J9", "S6"),
)
def streaming_neardup_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L10/L2: STREAMING near-dup detection — the ingest-time shape of
    MinHash-LSH dedup: new documents (source='src1') arrive as a
    stream; each row computes its 4 md5-MinHash band hashes ROW-LOCALLY
    inside the streaming plan and stream-static joins the PREBUILT band
    index of the existing corpus on (band_id, band_hash). Matched
    candidate edges land in the sink; the post-run distinct-count per
    new doc (exact distinct aggs are unsupported mid-stream) reports
    how many existing docs each arrival collides with. Per-doc results
    are INDEPENDENT of micro-batch boundaries — a doc's bands travel in
    its own row — so any trigger chunking yields the identical answer,
    which the batch-computed oracle asserts. At 100 TB the static index
    is materialized once (parquet, bucketed by band_hash) instead of
    recomputed per batch, and the join shuffles only band-key matches,
    never all-pairs."""
    static_bands = minhash_band_table(
        load_table(spark, sf_dir, "documents").filter(F.col("source") != "src1"),
        minhash_khash_sig,
    ).withColumnRenamed("doc_id", "corpus_doc")
    stream = file_stream(spark, sf_dir, "documents")
    new_bands = minhash_band_table(
        stream.filter(F.col("source") == "src1"), minhash_khash_sig
    )
    joined = new_bands.join(static_bands, ["band_id", "band_hash"]).select(
        "doc_id", "corpus_doc"
    )
    sess, out = run_foreach_batch_parquet(joined)
    return (
        sess.read.parquet(out)
        .groupBy("doc_id")
        .agg(F.countDistinct("corpus_doc").alias("n_candidates"))
    )


# --- T6: literal Lindley fold in state vs the batch closed form ---------


@register(
    "streaming_lindley_stateful",
    oracle=_LINDLEY_ORACLE,
    tags=("S2", "T6", "T8"),
)
def streaming_lindley_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming T6: the floor-clamped running balance folded
    LITERALLY (b = max(0, b + delta)) in per-user group state —
    the sequential recurrence whose closed form the batch twin
    ``inventory_lindley_balance`` expresses as pure window algebra.
    Both check against the SAME DuckDB oracle, proving the Lindley
    identity holds end to end: stateful stream fold == windowed
    batch plan == SQL. Exact BIGINT cents throughout; update-mode
    sink, latest update per user via the monotonic event count."""
    from gostream_spark.streaming import lindley_stateful

    cents = F.round(F.col("value") * 100).cast("long")
    ev = (
        file_stream(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "user_id",
            "ts",
            "event_id",
            F.when(F.col("event_type").isin("purchase", "signup"), cents)
            .otherwise(-cents)
            .alias("delta"),
        )
    )
    updates = lindley_stateful(ev)
    result = run_available_now(updates, output_mode="update")
    return result.groupBy("user_id").agg(
        F.max_by("final_balance", "n_events").alias("final_balance"),
        F.max_by("max_balance", "n_events").alias("max_balance"),
        F.max_by("n_clamped", "n_events").alias("n_clamped"),
    )


# --- J10 outer flavor #2: watermarked FULL OUTER stream-stream join -----

_SS_FULL_ORACLE = """
WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts FROM events
           WHERE event_type = 'purchase'),
     c AS (SELECT event_id AS click_id, user_id, ts AS c_ts FROM events
           WHERE event_type = 'click'),
     wm AS (SELECT least((SELECT max(p_ts) FROM p),
                         (SELECT max(c_ts) FROM c)) - INTERVAL 1 HOUR AS w)
SELECT coalesce(p.purchase_id, -1) AS purchase_id,
       coalesce(c.click_id, -1) AS click_id,
       coalesce(p.user_id, c.user_id) AS user_id
FROM p FULL JOIN c
  ON p.user_id = c.user_id
 AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
 AND c.c_ts <= p.p_ts
WHERE (p.purchase_id IS NOT NULL AND c.click_id IS NOT NULL)
   OR (c.click_id IS NULL AND p.p_ts <= (SELECT w FROM wm))
   OR (p.purchase_id IS NULL AND c.c_ts <= (SELECT w FROM wm) - INTERVAL 1 HOUR)
"""


@register(
    "streaming_stream_stream_full_join",
    oracle=_SS_FULL_ORACLE,
    tags=("S2", "J10", "T4", "T8"),
)
def streaming_stream_stream_full_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10 FULL OUTER stream-stream join — completes the outer-join
    matrix (inner / left / full). Eviction now gates BOTH sides, and
    asymmetrically, which the oracle must mirror: an unmatched
    purchase closes once the watermark passes its own timestamp (no
    click <= p_ts can still arrive), but an unmatched CLICK must wait
    a further hour — it can match any future purchase with p_ts up to
    c_ts + 1h, so its null-padded row only emits once
    w > c_ts + 1h. Rows inside either boundary stay open in state and
    correctly never emit under availableNow; the oracle encodes both
    boundaries and is row-exact against the engine's eviction.
    Nulls surface as -1 sentinels (hashed-output convention)."""
    joined = _purchase_click_join(spark, sf_dir, "full_outer").select(
        F.coalesce("purchase_id", F.lit(-1)).alias("purchase_id"),
        F.coalesce("click_id", F.lit(-1)).alias("click_id"),
        F.coalesce(F.col("p_user"), F.col("c_user")).alias("user_id"),
    )
    return run_available_now(joined, output_mode="append")


# --- L1/T8 ext: streaming CDC materialization (latest state per key) ----


@register(
    "streaming_cdc_latest_state",
    oracle=_CDC_ORACLE,
    tags=("S2", "T8", "L1", "A6", "ext"),
)
def streaming_cdc_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``cdc_apply_changelog``: the changelog
    replayed as a stream, materialized with a COMPLETE-mode
    ``max_by(payload, (ts, event_id))`` aggregate — the key insight
    being that "latest row per key" is a MERGEABLE aggregate (argmax
    under a total order), so the state store holds exactly one
    payload per key and each micro-batch folds in map-side partials;
    no window, no rank, no replay of history. Delete markers filter
    AFTER the argmax (a deleted key's tombstone must win first, then
    suppress the row) — same post-rank-filter discipline as the batch
    twin, same oracle."""
    ev = file_stream(spark, sf_dir, "events")
    agg = ev.select(
        "user_id",
        F.struct(
            "ts",
            "event_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        ).alias("payload"),
    ).groupBy("user_id").agg(
        F.max_by("payload", F.struct("payload.ts", "payload.event_id")).alias(
            "latest"
        )
    )
    res = run_available_now(agg, output_mode="complete")
    return res.filter(F.col("latest.event_type") != "error").select(
        "user_id",
        F.col("latest.event_type").alias("state"),
        F.col("latest.value_cents").alias("value_cents"),
        ts_str("latest.ts").alias("updated_at"),
    )


# --- S6 ext: side-output routing to two sinks ---------------------------

_SPLIT_ORACLE = """
SELECT 'main' AS sink, event_type, CAST(count(*) AS BIGINT) AS event_cnt
FROM events WHERE event_type <> 'error' GROUP BY event_type
UNION ALL
SELECT 'side', event_type, CAST(count(*) AS BIGINT)
FROM events WHERE event_type = 'error' GROUP BY event_type
"""


@register("streaming_split_side_outputs", oracle=_SPLIT_ORACLE, tags=("S2", "S5", "S6", "ext"))
def streaming_split_side_outputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 ext: the side-output pattern — one stream, two sinks: error
    events route to a quarantine sink, everything else to the main
    sink, inside a single foreachBatch (the batch persisted once so
    both filtered writes share the computation; Flink's side outputs
    / Storm's multi-stream declare, expressed the Spark way). Both
    sinks re-read and counted per type; main + side must exactly
    re-partition the input — which is what the oracle asserts."""
    from pyspark.sql import functions as SF

    from gostream_spark.streaming import file_stream
    from gostream_spark.streaming.runner import run_foreach_batch_split

    ev = file_stream(spark, sf_dir, "events").select("event_id", "event_type")
    session, main_out, side_out = run_foreach_batch_split(
        ev, lambda df: SF.col("event_type") == "error"
    )
    main = (
        session.read.parquet(main_out)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("event_cnt"))
        .select(F.lit("main").alias("sink"), "event_type", "event_cnt")
    )
    side = (
        session.read.parquet(side_out)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("event_cnt"))
        .select(F.lit("side").alias("sink"), "event_type", "event_cnt")
    )
    return main.unionByName(side)


# --- J9 ext: streaming point-in-time enrichment against SCD2 dim --------

_PIT_STREAM_ORACLE = """
WITH hist AS (
  SELECT * FROM events WHERE user_id < 50 AND event_type <> 'purchase'
), flagged AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN event_type IS DISTINCT FROM
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id)
              THEN 1 ELSE 0 END AS chg
  FROM hist
), islands AS (
  SELECT user_id, event_type, ts,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged
), spans AS (
  SELECT user_id, event_type AS state, island, min(ts) AS t_from
  FROM islands GROUP BY user_id, event_type, island
), dim AS (
  SELECT user_id, state, t_from,
         coalesce(lead(t_from) OVER (PARTITION BY user_id ORDER BY island),
                  TIMESTAMP '9999-12-31 00:00:00') AS t_to
  FROM spans
)
SELECT d.state AS state_at_purchase, CAST(count(*) AS BIGINT) AS n_purchases
FROM (SELECT * FROM events
      WHERE user_id < 50 AND event_type = 'purchase') p
JOIN dim d
  ON p.user_id = d.user_id
 AND p.ts >= d.t_from AND p.ts < d.t_to
GROUP BY d.state
"""


@register(
    "streaming_pit_enrichment",
    oracle=_PIT_STREAM_ORACLE,
    tags=("S2", "J9", "T1", "ext"),
)
def streaming_pit_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 ext: the point-in-time join as a STREAM-STATIC join — the
    online-serving shape of `pit_join_state_at_purchase`: purchases
    arrive as a stream and each micro-batch equi-joins (user_id, with
    the interval bounds as residuals) against the batch-built SCD2
    interval dim, then feeds a streaming count by enriched state.
    Stream-static joins are stateless per batch, so the dim can be
    swapped/refreshed between triggers without touching stream state
    — exactly how a feature store serves slowly-changing features to
    a live scorer. Counted in complete mode; with all input available
    the result must equal the batch PIT aggregation, which the oracle
    asserts."""
    from pyspark.sql import Window as W

    ev_batch = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    hist = ev_batch.filter(F.col("event_type") != "purchase")
    w_ev = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = hist.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            ~F.col("event_type").eqNullSafe(F.lag("event_type").over(w_ev)), 1
        )
        .otherwise(0)
        .alias("chg"),
    )
    islands = flagged.select(
        "user_id",
        "event_type",
        "ts",
        F.sum("chg").over(w_ev.rowsBetween(W.unboundedPreceding, 0)).alias("island"),
    )
    spans = islands.groupBy(
        "user_id", F.col("event_type").alias("state"), "island"
    ).agg(F.min("ts").alias("t_from"))
    w_is = W.partitionBy("user_id").orderBy("island")
    dim = spans.select(
        F.col("user_id").alias("d_user"),
        "state",
        "t_from",
        F.coalesce(
            F.lead("t_from").over(w_is),
            F.lit("9999-12-31 00:00:00").cast("timestamp"),
        ).alias("t_to"),
    )
    stream = (
        file_stream(spark, sf_dir, "events")
        .filter((F.col("user_id") < 50) & (F.col("event_type") == "purchase"))
        .select("user_id", "ts")
    )
    joined = stream.join(
        dim,
        (stream.user_id == dim.d_user)
        & (stream.ts >= dim.t_from)
        & (stream.ts < dim.t_to),
    )
    agg = joined.groupBy(F.col("state").alias("state_at_purchase")).agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases")
    )
    return run_available_now(agg, output_mode="complete")


# --- S5/S6/T7 ext: incremental materialized-view maintenance ------------

def make_matview_merger(mv_root: str):
    """Build the foreachBatch merger for `streaming_matview_incremental`
    (module-level so replay idempotence is directly unit-testable).
    Returns (state, merge_batch); state["current"] tracks the latest
    version directory.

    DRIVER-RESTART recovery: a fresh process constructing a merger
    over an existing mv_root must resume from the latest COMMITTED
    version, not from None — otherwise replayed batch ids are
    (correctly) skipped but every subsequent batch would merge
    against an empty view and silently drop all pre-crash history.
    Committed versions are exactly the atomically-renamed `v{id}-*`
    dirs, so the max batch id among them is the durable view head
    (a crash mid-write leaves only an invisible `.staging-*` orphan).
    Proven by the kill-the-whole-driver test in test_streaming.py."""
    import os
    import uuid

    state = {"current": None}
    if os.path.isdir(mv_root):
        versions = [d for d in os.listdir(mv_root) if d.startswith("v")]
        if versions:
            latest = max(versions, key=lambda d: int(d[1:].split("-")[0]))
            state["current"] = os.path.join(mv_root, latest)

    def merge_batch(batch_df, batch_id: int) -> None:
        # Idempotent replay: foreachBatch is at-least-once — after a
        # failure the SAME batch_id can be delivered again. A merge is
        # NOT naturally idempotent (it would double-count), so each
        # version dir carries the batch id that produced it and a
        # replayed id is skipped — the manifest trick the
        # gostream_jsonl stream sink uses, applied to view versions.
        # Only DURABLY COMMITTED versions suppress replay: versions are
        # staged under a dot-prefixed temp dir and renamed into place
        # atomically (below), so a crash mid-write leaves only a
        # `.staging-*` orphan that is invisible here — the batch id is
        # NOT considered applied and the at-least-once redelivery
        # re-merges it instead of silently losing it.
        applied = {
            d.split("-")[0]
            for d in os.listdir(mv_root)
            if d.startswith("v")
        } if os.path.isdir(mv_root) else set()
        if f"v{batch_id}" in applied:
            return
        partial = batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("event_cnt"),
            F.sum("cents").cast("long").alias("value_cents"),
        )
        if state["current"] is not None:
            prev = batch_df.sparkSession.read.parquet(state["current"])
            merged = (
                prev.select(
                    "event_type",
                    F.col("event_cnt").alias("c0"),
                    F.col("value_cents").alias("v0"),
                )
                .join(partial, "event_type", "full_outer")
                .select(
                    "event_type",
                    (F.coalesce("c0", F.lit(0)) + F.coalesce("event_cnt", F.lit(0)))
                    .cast("long")
                    .alias("event_cnt"),
                    (F.coalesce("v0", F.lit(0)) + F.coalesce("value_cents", F.lit(0)))
                    .cast("long")
                    .alias("value_cents"),
                )
            )
        else:
            merged = partial
        # A crashed earlier attempt at THIS batch id left only a
        # .staging-* orphan (never a committed version — that's what
        # makes replay safe); sweep it now so repeated failures don't
        # accumulate dead parquet data in mv_root forever.
        import shutil

        # Same isdir guard as the replay check above: a caller that
        # passes a not-yet-created mv_root must not crash here on
        # batch 0 (the staged write below creates it).
        if os.path.isdir(mv_root):
            for d in os.listdir(mv_root):
                if d.startswith(f".staging-{batch_id}-"):
                    shutil.rmtree(os.path.join(mv_root, d), ignore_errors=True)
        # Stage + atomic rename: parquet directory writes are not
        # atomic, so the final v{batch_id}-* name must only ever
        # appear once the write fully succeeded (same staging/rename
        # discipline as the gostream_jsonl 2PC sink).
        token = uuid.uuid4().hex[:6]
        staging = os.path.join(mv_root, f".staging-{batch_id}-{token}")
        version = os.path.join(mv_root, f"v{batch_id}-{token}")
        merged.write.mode("overwrite").parquet(staging)
        os.rename(staging, version)
        state["current"] = version

    return state, merge_batch




_MATVIEW_ORACLE = """
SELECT event_type, CAST(count(*) AS BIGINT) AS event_cnt,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY event_type
"""


@register(
    "streaming_matview_incremental",
    oracle=_MATVIEW_ORACLE,
    tags=("S2", "S5", "S6", "T7", "A9", "ext"),
)
def streaming_matview_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MATERIALIZED-VIEW maintenance — the streaming
    pattern behind every "live dashboard table": each micro-batch
    computes its PARTIAL aggregate (count + cent-sum per type) and
    foreachBatch merges it into the persisted view by key, writing a
    fresh VERSIONED snapshot directory per batch (writers never
    mutate the version a reader might be scanning — the same
    copy-on-write discipline as a lakehouse table format). The input
    is re-staged as four files streamed with maxFilesPerTrigger=1, so
    the merge genuinely runs across several micro-batches (and
    replayed batch ids are skipped — merge alone is not idempotent,
    so versions are stamped with the batch id that built them);
    because
    count/sum partials merge associatively, the final view equals the
    one-shot batch aggregate REGARDLESS of how the stream was
    batched — exactly what the oracle asserts. At scale the merge is
    a keyed outer join of (tiny) view vs (tiny) partials — never a
    rescan of history; history-rescan-free maintenance is the entire
    point of IVM."""
    from gostream_spark.streaming.runner import _sink_dir

    # Stage the fixture as four files so availableNow yields >1 batch.
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    stage = _sink_dir()
    for i in range(4):
        ev.filter(F.col("event_id") % 4 == i).coalesce(1).write.mode(
            "append"
        ).parquet(stage)

    sdf = (
        spark.readStream.schema("event_id long, event_type string, cents long")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    mv_root = _sink_dir()
    state, merge_batch = make_matview_merger(mv_root)

    run_foreach_batch(sdf, merge_batch)
    assert state["current"] is not None
    return spark.read.parquet(state["current"])


# --- T6 seventh shape: duration-capped sessions in streaming state ------

_CAPPED_STREAM_ORACLE = """
WITH RECURSIVE ordered AS (
  SELECT user_id, ts, event_id, epoch_us(ts) AS us,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE user_id < 20
), walk AS (
  SELECT user_id, ts, us, rn, us AS anchor_us, 1 AS session_no
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.ts, o.us, o.rn,
         CASE WHEN o.us - w.us <= 1800000000
                   AND o.us - w.anchor_us <= 7200000000
              THEN w.anchor_us ELSE o.us END,
         CASE WHEN o.us - w.us <= 1800000000
                   AND o.us - w.anchor_us <= 7200000000
              THEN w.session_no ELSE w.session_no + 1 END
  FROM ordered o JOIN walk w
    ON o.user_id = w.user_id AND o.rn = w.rn + 1
), sess AS (
  SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
         CAST(count(*) AS BIGINT) AS n_events,
         strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
         strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
  FROM walk GROUP BY user_id, session_no
)
SELECT * FROM sess s
WHERE session_no < (SELECT max(session_no) FROM sess m
                    WHERE m.user_id = s.user_id)
"""


@register(
    "streaming_session_capped_stateful",
    oracle=_CAPPED_STREAM_ORACLE,
    tags=("S2", "T6", "T3", "ext"),
)
def streaming_session_capped_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 seventh shape: the duration-capped session recurrence
    (gap > 30 min OR span > 2 h splits — not window-expressible) held
    in per-key streaming state. Each micro-batch folds its events
    into the user's open session and emits only the sessions it
    CLOSED; the open session rides in state and never emits — so the
    exact oracle is the batch recursive-CTE walk MINUS each user's
    last session. This is the streaming twin of the batch
    `session_window_capped` (same recurrence, applyInPandas) and the
    capstone of the T6 matrix: counter, set, numeric recurrence,
    transition, count-window, sketch, and now a session machine."""
    ev = file_stream(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    from gostream_spark.streaming.ops import capped_session_stateful

    return run_available_now(capped_session_stateful(ev), output_mode="append")


# --- S5 ext: time-travel read over the matview version history ----------

_TIME_TRAVEL_ORACLE = """
SELECT event_type, CAST(count(*) AS BIGINT) AS event_cnt,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events WHERE event_id % 4 < 2
GROUP BY event_type
"""


@register(
    "matview_time_travel",
    oracle=_TIME_TRAVEL_ORACLE,
    tags=("S5", "S6", "A9", "ext"),
)
def matview_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL over the incremental view's version history: because
    `streaming_matview_incremental`'s merger writes an immutable
    copy-on-write snapshot per batch (stamped with the batch id), ANY
    historical state remains readable after later batches commit —
    the lakehouse `VERSION AS OF` semantic, built from nothing but
    directories and the batch-id naming discipline. Here batches 0-3
    are the four event_id%4 slices in order; reading version v1 (the
    snapshot AFTER batch 1 merged) must equal the batch aggregate
    over slices {0,1} — which is exactly what the oracle computes.
    Old versions are immutable so readers never race writers; a
    retention sweep (the `.tmp` janitor here; VACUUM in a table
    format) bounds history storage."""
    import os

    from gostream_spark.streaming.runner import _sink_dir

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    mv_root = _sink_dir()
    os.makedirs(mv_root, exist_ok=True)
    state, merge = make_matview_merger(mv_root)
    # Apply the four slices as batches 0..3 (deterministic replay of
    # the incremental pipeline, driver-sequenced for exact versioning).
    for b in range(4):
        merge(ev.filter(F.col("event_id") % 4 == b), b)
    # Time travel: resolve the v1 snapshot from the directory naming
    # discipline alone — no driver-side bookkeeping needed.
    (v1,) = [d for d in os.listdir(mv_root) if d.startswith("v1-")]
    return spark.read.parquet(os.path.join(mv_root, v1))
