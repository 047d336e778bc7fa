"""Event-time operators in batch clothing (SURVEY.md §2.7, T1-T3/T5).

These are the deterministic batch twins of the streaming operators in
``gostream_spark.streaming``: Spark's ``window`` / ``session_window``
functions compute identical event-time buckets in batch and streaming
mode (batch mode simply has no watermark/late-data concern), so the
DuckDB oracles here certify the exact semantics the streaming facade
runs with.

Scale: every query is (map-side bucket computation) → (hash aggregate
on bucket × key) — one shuffle whose width is the bucket×key
cardinality, independent of input size. Sliding windows multiply input
by (size/slide) before aggregation; that fan-out happens map-side and
collapses in the partial aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gostream_spark.io import load_table
from gostream_spark.operators import (
    keep_first,
    session_windowed,
    sliding_windowed,
    tumbling_windowed,
)
from gostream_spark.parity import TS_FMT_DUCK, dec2, ts_str
from gostream_spark.registry import register
from gostream_spark.streaming.ops import _CS_OUT_SCHEMA, _capped_session_fold

# --- T1 tumbling window -------------------------------------------------

_T1_ORACLE = f"""
SELECT strftime(date_trunc('day', ts), '{TS_FMT_DUCK}') AS win_start,
       strftime(date_trunc('day', ts) + INTERVAL 1 DAY, '{TS_FMT_DUCK}') AS win_end,
       event_type,
       count(*) AS event_cnt,
       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2, 3
"""


@register("tumbling_window", oracle=_T1_ORACLE, tags=("T1",), bench=True)
def tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: daily tumbling-window aggregate per event type — the
    streaming `groupBy(window(ts, '1 day'), ...)` computed in batch.
    Windows align to the epoch, so bucket assignment is a pure map-side
    expression."""
    ev = load_table(spark, sf_dir, "events")
    return (
        tumbling_windowed(
            ev,
            "ts",
            "1 day",
            keys=("event_type",),
            aggs=(
                F.count(F.lit(1)).alias("event_cnt"),
                F.round(F.sum(dec2("value")), 2).cast("double").alias("total_value"),
            ),
        )
        .select(
            ts_str("w.start").alias("win_start"),
            ts_str("w.end").alias("win_end"),
            "event_type",
            "event_cnt",
            "total_value",
        )
    )


# --- T2 sliding (hopping) window ---------------------------------------

_T2_ORACLE = f"""
WITH slotted AS (
  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS slot, event_type, value
  FROM events
), expanded AS (
  SELECT (slot - offs.i) * 3600 AS win_epoch, event_type, value
  FROM slotted, (VALUES (0), (1), (2), (3), (4), (5)) offs(i)
)
SELECT strftime(TIMESTAMP '1970-01-01 00:00:00' + to_seconds(win_epoch),
                '{TS_FMT_DUCK}') AS win_start,
       strftime(TIMESTAMP '1970-01-01 00:00:00' + to_seconds(win_epoch + 6 * 3600),
                '{TS_FMT_DUCK}') AS win_end,
       event_type,
       count(*) AS event_cnt,
       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
FROM expanded
GROUP BY 1, 2, 3
"""


@register("sliding_window", oracle=_T2_ORACLE, tags=("T2",))
def sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: 6-hour windows sliding every hour — each event lands in 6
    buckets (the oracle reproduces Spark's epoch-aligned bucket
    arithmetic explicitly). The ×6 fan-out is map-side and collapses
    in the partial aggregate before the shuffle."""
    ev = load_table(spark, sf_dir, "events")
    return (
        sliding_windowed(
            ev,
            "ts",
            "6 hours",
            "1 hour",
            keys=("event_type",),
            aggs=(
                F.count(F.lit(1)).alias("event_cnt"),
                F.round(F.sum(dec2("value")), 2).cast("double").alias("total_value"),
            ),
        )
        .select(
            ts_str("w.start").alias("win_start"),
            ts_str("w.end").alias("win_end"),
            "event_type",
            "event_cnt",
            "total_value",
        )
    )


# --- T3 session window --------------------------------------------------

# Boundary caveat (pinned by tests/test_properties.py::
# test_session_window_matches_gap_sessionizer): Spark merges an event
# landing EXACTLY gap after the previous one; this oracle's
# `ts >= prev_ts + gap → new session` disagrees on that knife-edge.
# Safe here because fixture timestamps carry microseconds (an exact
# 30:00.000000 gap never occurs); data quantized to the gap unit
# would need `>` in the oracle.
_T3_ORACLE = f"""
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
)
SELECT user_id,
       strftime(min(ts), '{TS_FMT_DUCK}') AS session_start,
       strftime(max(ts) + INTERVAL 30 MINUTE, '{TS_FMT_DUCK}') AS session_end,
       count(*) AS event_cnt
FROM numbered
GROUP BY user_id, session_no
"""


@register("session_window", oracle=_T3_ORACLE, tags=("T3",), bench=True)
def session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: gap-based session windows (30-minute inactivity gap) per
    user — `session_window(ts, '30 minutes')`. The oracle is the
    classic lag-gap → running-sum sessionization, which provably
    produces the same (start, last+gap) sessions. Session windows
    shuffle once on user_id; state per key is bounded by the session
    count, not the event count."""
    ev = load_table(spark, sf_dir, "events")
    return (
        session_windowed(
            ev,
            "ts",
            "30 minutes",
            keys=("user_id",),
            aggs=(F.count(F.lit(1)).alias("event_cnt"),),
        )
        .select(
            "user_id",
            ts_str("w.start").alias("session_start"),
            ts_str("w.end").alias("session_end"),
            "event_cnt",
        )
    )


# --- T5 dedup (keep-first) ----------------------------------------------

_T5_ORACLE = f"""
SELECT user_id, event_type,
       strftime(date_trunc('day', ts), '{TS_FMT_DUCK}') AS day,
       event_id AS first_event,
       strftime(ts, '{TS_FMT_DUCK}') AS first_ts
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id, event_type, date_trunc('day', ts)
                           ORDER BY ts, event_id) = 1
"""


@register("events_dedup_first", oracle=_T5_ORACLE, tags=("T5", "W9"))
def events_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 (batch twin): keep the FIRST event per (user, type, day).
    Plain ``dropDuplicates`` keeps an arbitrary row (partition-order
    dependent), so the engine's deterministic dedup is
    row_number()=1 over an explicit order — same single shuffle, and
    the semantics the streaming `withWatermark().dropDuplicates()`
    guarantees by arrival order."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    return (
        keep_first(
            ev.withColumn("day_key", day),
            keys=["user_id", "event_type", "day_key"],
            order_by=["ts", "event_id"],
        )
        .select(
            "user_id",
            "event_type",
            ts_str(day).alias("day"),
            F.col("event_id").alias("first_event"),
            ts_str("ts").alias("first_ts"),
        )
    )


# --- time-series resample + gap fill ------------------------------------

_RESAMPLE_ORACLE = f"""
WITH base AS (
  SELECT user_id, date_trunc('hour', ts) AS h, value
  FROM events WHERE user_id < 20),
hourly AS (
  SELECT user_id, h, count(*) AS c,
         CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS v
  FROM base GROUP BY 1, 2),
bounds AS (SELECT user_id, min(h) AS lo, max(h) AS hi FROM base GROUP BY 1),
grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
  FROM bounds),
j AS (
  SELECT g.user_id, g.h, coalesce(c, 0) AS event_cnt, v
  FROM grid g LEFT JOIN hourly USING (user_id, h))
SELECT user_id, strftime(h, '{TS_FMT_DUCK}') AS hour, event_cnt,
       coalesce(v, -1.0) AS val_sum,
       last_value(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_val
FROM j
"""


@register("events_resample_gapfill", oracle=_RESAMPLE_ORACLE, tags=("T1", "W2", "ext"))
def events_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample + gap fill: per-user hourly grid from the
    user's own first to last hour (sequence → explode, map-side),
    left-joined with the hourly aggregates, empty hours zero-filled
    and the last observed hourly value carried forward
    (``last(ignorenulls)`` over a per-user running window).

    Scale: the grid explode is map-side over the per-user bounds (one
    row per user before the explode); the join and the fill window
    both hash-partition on user_id — no global operation. The dense
    grid is what downstream forecasting/feature jobs consume."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    base = ev.select("user_id", F.date_trunc("hour", "ts").alias("h"), "value")
    hourly = base.groupBy("user_id", "h").agg(
        F.count(F.lit(1)).alias("c"),
        F.round(F.sum(dec2("value")), 2).cast("double").alias("v"),
    )
    bounds = base.groupBy("user_id").agg(
        F.min("h").alias("lo"), F.max("h").alias("hi")
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    j = grid.join(hourly, ["user_id", "h"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        ts_str("h").alias("hour"),
        F.coalesce("c", F.lit(0)).alias("event_cnt"),
        F.coalesce("v", F.lit(-1.0)).alias("val_sum"),
        F.last("v", ignorenulls=True).over(w).alias("filled_val"),
    )


# --- W3 ext: exponential-decay weighted moving average ------------------

_EWMA_ORACLE = f"""
WITH sub AS (
  SELECT user_id, event_id, ts, value FROM events
  WHERE user_id % 20 = 0 AND value IS NOT NULL),
fr AS (
  SELECT user_id, event_id, strftime(ts, '{TS_FMT_DUCK}') AS ts_s,
         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS wv
  FROM sub)
SELECT user_id, event_id, ts_s,
       round(
         list_aggregate(list_transform(range(1, len(wv) + 1),
                                       j -> wv[j] * pow(0.5, len(wv) - j)), 'sum')
         / list_aggregate(list_transform(range(1, len(wv) + 1),
                                         j -> pow(0.5, len(wv) - j)), 'sum'),
         6) AS ewma
FROM fr
"""


@register("ewma_smoothing", oracle=_EWMA_ORACLE, tags=("W3", "W2", "ext"))
def ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential-decay weighted moving average per user (half-decay
    per step, 8-event horizon) — the streaming-telemetry smoother that
    a plain frame AVG (window_running) can't express. The frame's
    values are collected in frame order and fold-weighted by
    0.5^distance; weights are powers of two, so every product is an
    exact IEEE scaling and both engines fold in the same order
    (round-6 guards the residual). One shuffle on user_id; the frame
    is O(1) per row at any scale. Horizon-limited EWMA (vs the
    unbounded recurrence) is the standard scale form: state per key is
    8 values, not a full history.

    NULL values are filtered on BOTH engine sides by construction:
    Spark's collect_list DROPS nulls while DuckDB's list() keeps them
    (and would weight the null positions), so nullable input would
    silently diverge — same defensive filter as value_drift_psi."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter((F.col("user_id") % 20 == 0) & F.col("value").isNotNull())
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-7, Window.currentRow)
    )
    fr = ev.select(
        "user_id",
        "event_id",
        ts_str("ts").alias("ts_s"),
        F.collect_list("value").over(w).alias("wv"),
    )
    n = F.size("wv")
    weights = F.transform(
        F.sequence(F.lit(1), n), lambda j: F.pow(F.lit(0.5), (n - j).cast("double"))
    )
    num = F.aggregate(
        F.zip_with("wv", weights, lambda v, wt: v * wt),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    den = F.aggregate(weights, F.lit(0.0), lambda acc, x: acc + x)
    return fr.select(
        "user_id", "event_id", "ts_s", F.round(num / den, 6).alias("ewma")
    )


# --- W3 ext: rolling z-score outlier detection --------------------------

_ZSCORE_ORACLE = f"""
WITH fr AS (
  SELECT event_id, user_id, event_type, value,
         strftime(ts, '{TS_FMT_DUCK}') AS ts_s,
         avg(value) OVER w AS mu,
         stddev_samp(value) OVER w AS sd,
         count(*) OVER w AS n_frame
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
SELECT event_id, user_id, event_type, ts_s,
       round(value, 2) AS value,
       round((value - mu) / sd, 4) AS zscore
FROM fr
WHERE n_frame >= 10 AND round(sd, 6) > 0
  AND abs(round((value - mu) / sd, 4)) > 2
"""


@register("zscore_outliers", oracle=_ZSCORE_ORACLE, tags=("W3", "ext"))
def zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection — the telemetry outlier
    monitor: each event scored against the trailing-20 mean/stddev of
    its type, flagged when |z| > 2 (frames under 10 events are
    warm-up and skipped). One shuffle on event_type into a
    partitioned window; per-row state is a constant-size frame, so
    the shape is stream-ready (the streaming twin keeps (sum, sumsq,
    count) per key instead of the frame). Skew note: event_type is
    low-cardinality — at cluster scale the same query runs per
    (event_type, day) composite key to spread partitions.

    Boundary discipline: the |z| > 2 membership test compares the
    ROUNDED z (4 dp) and the sd > 0 guard the ROUNDED sd (6 dp),
    identically in both engines — each engine's windowed avg/stddev
    can differ in the last ulp, and an unrounded comparison would let
    a boundary row flip row membership (the repo's exact-boundary
    rule, cf. small_quantity_revenue)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, Window.currentRow)
    )
    fr = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        ts_str("ts").alias("ts_s"),
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sd"),
        F.count(F.lit(1)).over(w).alias("n_frame"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sd")
    return (
        fr.filter(
            (F.col("n_frame") >= 10)
            & (F.round("sd", 6) > 0)
            & (F.abs(F.round(z, 4)) > 2)
        )
        .select(
            "event_id",
            "user_id",
            "event_type",
            "ts_s",
            F.round("value", 2).alias("value"),
            F.round(z, 4).alias("zscore"),
        )
    )


# --- SCD1 upsert merge (CDC apply) --------------------------------------

_SCD1_ORACLE = """
WITH keyed AS (
  SELECT user_id, value, ts,
         lpad(CAST(epoch_us(ts) AS VARCHAR), 16, '0')
           || lpad(CAST(event_id AS VARCHAR), 10, '0') AS ordkey
  FROM events),
base AS (
  SELECT user_id, arg_max(value, ordkey) AS value,
         max(ts) AS updated_ts, count(*) AS n_base
  FROM keyed WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
  GROUP BY user_id),
updates AS (
  SELECT user_id, arg_max(value, ordkey) AS value,
         max(ts) AS updated_ts, count(*) AS n_upd
  FROM keyed WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
  GROUP BY user_id)
SELECT coalesce(b.user_id, u.user_id) AS user_id,
       round(coalesce(u.value, b.value), 2) AS value,
       strftime(coalesce(u.updated_ts, b.updated_ts), '%Y-%m-%d %H:%M:%S')
         AS updated_ts,
       CASE WHEN b.user_id IS NULL THEN 'insert'
            WHEN u.user_id IS NULL THEN 'unchanged'
            ELSE 'update' END AS merge_action
FROM base b FULL OUTER JOIN updates u ON b.user_id = u.user_id
"""


@register("scd1_upsert_merge", oracle=_SCD1_ORACLE, tags=("J2", "A6", "ext"))
def scd1_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-1 merge (the MERGE INTO / CDC-apply shape): the
    pre-cutoff state table full-outer-joins the post-cutoff update
    batch; updates win, inserts appear, untouched rows carry forward —
    with the action labeled per key. Latest-per-key on both sides is
    max_by with a (ts, event_id) tie-proof ordering tuple, one hash
    aggregate each — never a row_number sort. At 100 TB the base side
    is the storage table (Delta/Iceberg MERGE pushes the same join
    into the table format); the update batch is the small side and
    broadcasts."""
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp")
    # Fixed-width string ordering key: lexicographic == (ts, event_id)
    # numeric order; DuckDB's arg_max has no composite-key overload.
    ordkey = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 16, "0"),
        F.lpad(F.col("event_id").cast("string"), 10, "0"),
    )

    def latest(df: DataFrame, n_name: str) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.max_by("value", ordkey).alias("value"),
            F.max("ts").alias("updated_ts"),
            F.count(F.lit(1)).alias(n_name),
        )

    base = latest(ev.filter(F.col("ts") < cutoff), "n_base").alias("b")
    upd = latest(ev.filter(F.col("ts") >= cutoff), "n_upd").alias("u")
    joined = base.join(upd, F.col("b.user_id") == F.col("u.user_id"), "full")
    return joined.select(
        F.coalesce("b.user_id", "u.user_id").alias("user_id"),
        F.round(F.coalesce("u.value", "b.value"), 2).alias("value"),
        ts_str(F.coalesce("u.updated_ts", "b.updated_ts")).alias("updated_ts"),
        F.when(F.col("b.user_id").isNull(), "insert")
        .when(F.col("u.user_id").isNull(), "unchanged")
        .otherwise("update")
        .alias("merge_action"),
    )


# --- T1+A7: hierarchical time rollup ------------------------------------

_TIME_ROLLUP_ORACLE = f"""
WITH b AS (
  SELECT date_trunc('week', ts) AS week_start, date_trunc('day', ts) AS day_start,
         value
  FROM events)
SELECT CASE WHEN grouping(week_start) = 1 THEN '(all)'
            ELSE strftime(week_start, '{TS_FMT_DUCK}') END AS week_start,
       CASE WHEN grouping(day_start) = 1 THEN '(all)'
            ELSE strftime(day_start, '{TS_FMT_DUCK}') END AS day_start,
       CASE WHEN grouping(week_start) = 1 THEN 'total'
            WHEN grouping(day_start) = 1 THEN 'week' ELSE 'day' END AS grain,
       count(*) AS event_cnt,
       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
FROM b
GROUP BY ROLLUP (week_start, day_start)
"""


@register("time_rollup_multigrain", oracle=_TIME_ROLLUP_ORACLE, tags=("T1", "A7", "ext"))
def time_rollup_multigrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical time rollup: day totals, week subtotals, and the
    grand total from ONE pass — ROLLUP(week, day) exploits day⊂week
    nesting (a full grouping-sets cube would double-count nothing but
    cost an extra expand row per grain anyway). The dashboard
    time-hierarchy query; Catalyst's Expand keeps the aggregation
    partial→final, so input is read once at any scale. grouping()
    bits label the grain and disambiguate subtotal NULLs, string-
    sentineled for the NULL-free output discipline."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        F.date_trunc("week", "ts").alias("week_start"),
        F.date_trunc("day", "ts").alias("day_start"),
        "value",
    )
    rolled = b.rollup("week_start", "day_start").agg(
        F.grouping("week_start").alias("gw"),
        F.grouping("day_start").alias("gd"),
        F.count(F.lit(1)).alias("event_cnt"),
        F.round(F.sum(dec2("value")), 2).cast("double").alias("total_value"),
    )
    return rolled.select(
        F.when(F.col("gw") == 1, "(all)").otherwise(ts_str("week_start")).alias("week_start"),
        F.when(F.col("gd") == 1, "(all)").otherwise(ts_str("day_start")).alias("day_start"),
        F.when(F.col("gw") == 1, "total")
        .when(F.col("gd") == 1, "week")
        .otherwise("day")
        .alias("grain"),
        "event_cnt",
        "total_value",
    )


# --- T3 extension: DYNAMIC-gap session windows --------------------------

_T3_DYN_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'error' THEN INTERVAL 10 MINUTE
              ELSE INTERVAL 30 MINUTE END AS gap
  FROM events
), flagged AS (
  SELECT user_id, ts, event_id, gap,
         max(ts + gap) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max_end
  FROM ordered
), numbered AS (
  SELECT user_id, ts, gap,
         sum(CASE WHEN prev_max_end IS NULL OR ts >= prev_max_end
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
  FROM flagged
)
SELECT user_id,
       strftime(min(ts), '{TS_FMT_DUCK}') AS session_start,
       strftime(max(ts + gap), '{TS_FMT_DUCK}') AS session_end,
       count(*) AS event_cnt
FROM numbered
GROUP BY user_id, session_no
"""


@register("session_window_dynamic_gap", oracle=_T3_DYN_ORACLE, tags=("T3", "ext"))
def session_window_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 with a PER-EVENT gap expression: error events keep the
    session alive only 10 minutes, everything else 30 — the
    engagement-dependent sessionization fixed-gap windows can't
    express. Each event contributes [ts, ts + its gap); Spark merges
    overlapping intervals, so session_end is the max contributed end,
    which the oracle replays with a running-max-of-ends lag
    construction. Same single user-keyed shuffle as the fixed-gap
    twin."""
    ev = load_table(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "error", F.lit("10 minutes")).otherwise(
        F.lit("30 minutes")
    )
    return (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("event_cnt"))
        .select(
            "user_id",
            ts_str("w.start").alias("session_start"),
            ts_str("w.end").alias("session_end"),
            "event_cnt",
        )
    )


# --- A4 extension: mergeable datasketches HLL rollup --------------------


_HLL_ROLLUP_ORACLE = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(1 AS BIGINT) AS approx_ok
FROM events GROUP BY event_type
UNION ALL
SELECT '(all)' AS event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       CAST(1 AS BIGINT) AS approx_ok
FROM events
"""


@register("hll_mergeable_rollup", oracle=_HLL_ROLLUP_ORACLE, tags=("A4", "A7", "ext"))
def hll_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 via Apache DataSketches HLL (Spark 3.5+ `hll_sketch_agg`):
    per-event-type sketches of the user set, then `hll_union_agg`
    MERGES the serialized sketches into the all-types estimate —
    the two-level rollup pattern that makes distinct counting
    mergeable across partitions/days without re-scanning raw data
    (approx_count_distinct gives one number; sketches compose).
    Sketch estimates are engine-specific, so the GUARANTEE shape
    makes this exact-checkable: each row carries the exact distinct
    count plus a verdict that the sketch estimate (per-type AND the
    merged union) landed within 5% of it — far outside the default
    lgConfigK=12 sketch's ~1.6% rsd, so only a broken sketch or a
    broken merge trips it. The union upper bound stays pinned in
    tests/test_rows_only.py."""
    ev = load_table(spark, sf_dir, "events")

    def ok(est: Column, exact: Column) -> Column:
        # An empty/all-NULL input yields a NULL sketch (nothing was
        # aggregated) and exact = 0 — coalesce so the verdict stays a
        # literal 1/0 like the oracle's, never NULL.
        return (
            F.abs(F.coalesce(est, F.lit(0.0)) - exact)
            <= F.greatest(F.lit(1.0), exact * 0.05)
        ).cast("long")

    per = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    exact_all = ev.agg(F.countDistinct("user_id").alias("exact_users"))
    rolled = (
        per.agg(F.hll_union_agg("sk").alias("sk"))
        .crossJoin(F.broadcast(exact_all))
        .select(
            F.lit("(all)").alias("event_type"),
            "exact_users",
            ok(F.hll_sketch_estimate("sk"), F.col("exact_users")).alias("approx_ok"),
        )
    )
    return per.select(
        "event_type",
        "exact_users",
        ok(F.hll_sketch_estimate("sk"), F.col("exact_users")).alias("approx_ok"),
    ).unionByName(rolled)


# --- Storm-style COUNT windows (every N tuples per key) -----------------

_COUNT_WIN_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, ts, coalesce(value, 0) AS value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS rn
  FROM events
)
SELECT user_id,
       rn // 5 AS win_no,
       count(*) AS n_events,
       strftime(min(ts), '{TS_FMT_DUCK}') AS win_start,
       strftime(max(ts), '{TS_FMT_DUCK}') AS win_end,
       round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2)
         AS sum_value
FROM ordered
GROUP BY user_id, rn // 5
HAVING count(*) = 5
"""


@register("count_window_stats", oracle=_COUNT_WIN_ORACLE, tags=("T1", "W3", "ext"))
def count_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-based (tuple) windows — the Storm window flavor keyed by
    arrival count, not time: each user's events chunk into
    consecutive windows of 5 in (ts, event_id) order; only COMPLETE
    windows emit (matching the streaming twin, whose remainder rides
    in state). One user-keyed shuffle; cent-integer sums for exact
    parity."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chunked = ev.select(
        "user_id",
        "ts",
        F.coalesce("value", F.lit(0.0)).alias("value"),
        ((F.row_number().over(w) - 1) / 5).cast("bigint").alias("win_no"),
    )
    return (
        chunked.groupBy("user_id", "win_no")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            ts_str(F.min("ts")).alias("win_start"),
            ts_str(F.max("ts")).alias("win_end"),
            F.round(
                F.sum(F.round(F.col("value") * 100).cast("bigint")).cast("double")
                / 100.0,
                2,
            ).alias("sum_value"),
        )
        .filter(F.col("n_events") == 5)
    )


# --- Linear interpolation over the hourly grid --------------------------

_INTERP_ORACLE = f"""
WITH base AS (
  SELECT user_id, date_trunc('hour', ts) AS h,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE user_id < 20 AND value IS NOT NULL),
hourly AS (
  SELECT user_id, h, CAST(sum(cents) AS BIGINT) AS known_cents
  FROM base GROUP BY 1, 2),
bounds AS (SELECT user_id, min(h) AS lo, max(h) AS hi FROM base GROUP BY 1),
grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
  FROM bounds),
j AS (
  SELECT g.user_id, g.h,
         CAST(floor(epoch(g.h)) AS BIGINT) / 3600 AS hs,
         known_cents
  FROM grid g LEFT JOIN hourly USING (user_id, h)),
ctx AS (
  SELECT user_id, h, hs, known_cents,
         last_value(known_cents IGNORE NULLS) OVER wb AS prev_c,
         last_value(CASE WHEN known_cents IS NOT NULL THEN hs END IGNORE NULLS)
           OVER wb AS prev_h,
         first_value(known_cents IGNORE NULLS) OVER wf AS next_c,
         first_value(CASE WHEN known_cents IS NOT NULL THEN hs END IGNORE NULLS)
           OVER wf AS next_h
  FROM j
  WINDOW wb AS (PARTITION BY user_id ORDER BY hs
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY user_id ORDER BY hs
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, strftime(h, '{TS_FMT_DUCK}') AS hour,
       CASE WHEN known_cents IS NOT NULL THEN 'known' ELSE 'interp' END AS kind,
       -- floor at 1e4, not round: interpolation midpoints sit exactly on
       -- .00005 boundaries where Spark (half-up) and DuckDB (half-even)
       -- round differently; floor of the identical double is engine-proof
       floor(CASE WHEN known_cents IS NOT NULL
                  THEN CAST(known_cents AS DOUBLE) / 100.0
                  ELSE (CAST(prev_c AS DOUBLE)
                        + CAST(next_c - prev_c AS DOUBLE)
                          * (hs - prev_h) / (next_h - prev_h)) / 100.0
             END * 10000) / 10000 AS val
FROM ctx
"""


@register("linear_interp_hourly", oracle=_INTERP_ORACLE, tags=("T1", "W3", "ext"))
def linear_interp_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over the per-user hourly grid: missing
    hours get the straight line between the neighbouring known hourly
    sums (``events_resample_gapfill``'s forward-fill upgraded to
    two-sided interpolation — the standard time-series imputation
    before feature extraction). Known values are exact integer cents;
    hour ordinals are exact integers; the interpolated value is one
    double expression over those integers, identical on both engines.
    Interior grid rows always have both neighbours (the grid spans
    min..max of each user's own observed hours), so the output is
    NULL-free by construction. Per-user windows — high-cardinality
    partitioning, one shuffle shared by the two frame directions."""
    base = (
        load_table(spark, sf_dir, "events")
        .filter((F.col("user_id") < 20) & F.col("value").isNotNull())
        .select(
            "user_id",
            F.date_trunc("hour", "ts").alias("h"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    hourly = base.groupBy("user_id", "h").agg(F.sum("cents").alias("known_cents"))
    bounds = base.groupBy("user_id").agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    j = grid.join(hourly, ["user_id", "h"], "left").withColumn(
        "hs", (F.unix_timestamp("h") / 3600).cast("long")
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("hs")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("hs")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    known_h = F.when(F.col("known_cents").isNotNull(), F.col("hs"))
    ctx = j.select(
        "user_id",
        "h",
        "hs",
        "known_cents",
        F.last("known_cents", ignorenulls=True).over(wb).alias("prev_c"),
        F.last(known_h, ignorenulls=True).over(wb).alias("prev_h"),
        F.first("known_cents", ignorenulls=True).over(wf).alias("next_c"),
        F.first(known_h, ignorenulls=True).over(wf).alias("next_h"),
    )
    interp = (
        F.col("prev_c").cast("double")
        + (F.col("next_c") - F.col("prev_c")).cast("double")
        * (F.col("hs") - F.col("prev_h"))
        / (F.col("next_h") - F.col("prev_h"))
    ) / 100.0
    return ctx.select(
        "user_id",
        ts_str("h").alias("hour"),
        F.when(F.col("known_cents").isNotNull(), "known")
        .otherwise("interp")
        .alias("kind"),
        (
            F.floor(
                F.when(
                    F.col("known_cents").isNotNull(),
                    F.col("known_cents").cast("double") / 100.0,
                ).otherwise(interp)
                * 10000
            )
            / 10000
        ).alias("val"),
    )


# --- T3 ext: duration-capped sessionization (gap OR max-length split) ---

_CAPPED_SESSION_ORACLE = """
WITH RECURSIVE ordered AS (
  SELECT user_id, ts, event_id, epoch_us(ts) AS us,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE user_id < 20
), walk AS (
  SELECT user_id, ts, event_id, us, rn,
         us AS anchor_us, 1 AS session_no
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.ts, o.event_id, o.us, o.rn,
         CASE WHEN o.us - w.us <= 1800000000
                   AND o.us - w.anchor_us <= 7200000000
              THEN w.anchor_us ELSE o.us END,
         CASE WHEN o.us - w.us <= 1800000000
                   AND o.us - w.anchor_us <= 7200000000
              THEN w.session_no ELSE w.session_no + 1 END
  FROM ordered o JOIN walk w
    ON o.user_id = w.user_id AND o.rn = w.rn + 1
)
SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
       CAST(count(*) AS BIGINT) AS n_events,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
FROM walk
GROUP BY user_id, session_no
"""


@register("session_window_capped", oracle=_CAPPED_SESSION_ORACLE, tags=("T3", "U2", "ext"))
def session_window_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 ext: sessionization with BOTH a 30 min inactivity gap and a
    2 h hard duration cap (the Google-Analytics-style rule). The cap
    makes this NOT window-expressible: each event's session depends
    on the running anchor, which resets only when a split fires — a
    true sequential recurrence, so the engine runs it as a per-user
    ``applyInPandas`` fold (one user_id shuffle, per-group O(n)
    integer-microsecond math; the walk is the one
    ``streaming.capped_session_stateful`` runs), and the oracle replays the identical
    recurrence as a DuckDB RECURSIVE CTE walk over rank-ordered
    events. The plain gap-only session (`session_window`,
    `session_window_dynamic_gap`) stays the built-in-window fast
    path; this shape is the escape hatch for rules the window algebra
    cannot express."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    return (
        ev.select("user_id", "ts", "event_id")
        .groupBy("user_id")
        .applyInPandas(_capped_session_fold, schema=_CS_OUT_SCHEMA)
    )
