"""Statistical / sequence analytics beyond the core inventory
(SURVEY.md §2 ext): distribution windows (percent_rank / cume_dist /
ntile), gaps-and-islands streaks, market-basket lift, robust MAD
outliers, time-weighted averages, lag-1 autocorrelation, chi-square
independence, and per-group Gini concentration.

Cross-engine determinism (the repo's parity discipline,
``gostream_spark.parity``): every comparison and aggregate routes
through exact integers (cents, day ordinals, rank products) or
DECIMAL sums; the only double operations are single correctly-rounded
expressions (one divide / sqrt chain) evaluated identically by Spark
and DuckDB, then rounded.

Scale notes are per-query; the common shape is hash-partitioned
windows (user_id / order key — high-cardinality keys, never a global
window) and broadcast-size statistic tables joined back to facts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gostream_spark.io import load_table
from gostream_spark.registry import register

# --- W1 ext: percent_rank / cume_dist / ntile ---------------------------

_PCT_RANK_ORACLE = """
WITH e AS (
  SELECT user_id, event_id,
         CAST(round(value * 100) AS BIGINT) AS value_cents
  FROM events WHERE value IS NOT NULL AND user_id % 10 = 0
)
SELECT user_id, event_id, value_cents,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume_d,
       ntile(4) OVER w AS quartile
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY value_cents, event_id)
"""


@register("window_percent_rank_cume", oracle=_PCT_RANK_ORACLE, tags=("W1", "ext"))
def window_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 ext: relative-position window functions — percent_rank,
    cume_dist, and ntile(4) of each event's value within its user's
    history. Ordering is the total order (value_cents, event_id), so
    ntile's bucket assignment (which is order- not value-determined
    under ties) is deterministic on both engines. Partitioned by
    user_id — high-cardinality key, no global window; one shuffle."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & (F.col("user_id") % 10 == 0))
        .select(
            "user_id",
            "event_id",
            F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("value_cents", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        "value_cents",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume_d"),
        F.ntile(4).over(w).alias("quartile"),
    )


# --- W2 ext: gaps-and-islands activity streaks --------------------------

_STREAKS_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
  FROM events
), grp AS (
  SELECT user_id, d,
         d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS g
  FROM days
), islands AS (
  SELECT user_id, g, count(*) AS streak_len
  FROM grp GROUP BY user_id, g
)
SELECT user_id,
       count(*) AS n_streaks,
       max(streak_len) AS longest_streak,
       CAST(sum(streak_len) AS BIGINT) AS active_days
FROM islands
GROUP BY user_id
"""


@register("gaps_islands_streaks", oracle=_STREAKS_ORACLE, tags=("W2", "ext"))
def gaps_islands_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 ext: gaps-and-islands — consecutive-active-day streaks per
    user via the classic (day_ordinal - row_number) grouping trick.
    Day ordinals are exact integers (no timestamp arithmetic in the
    compared values). Two hash aggregates + one user-partitioned
    window, all keyed on user_id: a single shuffle reused across
    stages, linear at any scale."""
    days = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("d"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    islands = (
        days.withColumn("g", F.col("d") - F.row_number().over(w))
        .groupBy("user_id", "g")
        .agg(F.count(F.lit(1)).alias("streak_len"))
    )
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_streaks"),
        F.max("streak_len").alias("longest_streak"),
        F.sum("streak_len").alias("active_days"),
    )


# --- J1/A1 ext: market-basket pair lift ---------------------------------

_BASKET_ORACLE = """
WITH ob AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON l_partkey = p_partkey
), pairs AS (
  SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, count(*) AS pair_cnt
  FROM ob a JOIN ob b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY 1, 2
), bc AS (
  SELECT p_brand, count(*) AS brand_cnt FROM ob GROUP BY 1
), n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM ob)
SELECT brand_a, brand_b, pair_cnt,
       round(CAST(pair_cnt AS DOUBLE) / n_orders, 6) AS support,
       round(CAST(pair_cnt AS DOUBLE) * n_orders
             / (ca.brand_cnt * cb.brand_cnt), 6) AS lift
FROM pairs
JOIN bc ca ON ca.p_brand = brand_a
JOIN bc cb ON cb.p_brand = brand_b
CROSS JOIN n
WHERE pair_cnt >= 5
"""


@register(
    "market_basket_pair_lift", oracle=_BASKET_ORACLE, tags=("J1", "A1", "ext"), bench=True
)
def market_basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/A1 ext: market-basket co-occurrence — brand pairs appearing
    in the same order, with support and lift. No-self-join shape
    (the funnel_single_pass discipline, r7): a shuffle on l_orderkey
    builds each order's sorted distinct brand SET; the pair list, the
    brand marginals, and the order count are row-local array algebra
    over that frame, emitted as ONE unified marker stream so a single
    partial→final aggregate computes all three statistics in one pass
    over the fact table (r16 — see the in-body note; the r7 form ran
    the scan + basket shuffle once per statistic). vs the original
    self-join formulation this drops the plan from 10 hash exchanges
    + 1 sort-merge join to 3 exchanges + 0 SMJ (pinned:
    tests/test_plans.py::test_market_basket_no_self_join) — at 100 TB
    that removes two full-relation sorts, a join whose probe side is
    the entire distinct (order, brand) relation, and three redundant
    fact-table passes. The former join formulation survives as the
    DuckDB oracle. Pair fan-out stays bounded by per-basket brand
    count squared; brand marginals and the order count are
    broadcast-size. Lift is one double expression over exact integer
    counts — identical on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    baskets = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("brands"))
    )
    # r16 one-pass form: the THREE aggregates the query needs (pair
    # counts, per-brand marginals, the order count) all derive from
    # the basket frame, and exchange reuse does not fire across
    # differently-keyed aggregate branches — the old plan re-ran the
    # scan + broadcast-join + basket shuffle once per branch (4×
    # total; materializing the fat brand-array frame instead was
    # MEASURED SLOWER at 2.12 s vs 1.62 s in r7, because the
    # checkpoint wrote full arrays). Instead, each basket row-locally
    # emits ONE unified stream — its (a < b) brand pairs, its
    # per-brand marginal markers (brand_b NULL), and one order marker
    # (both NULL) — so a single partial→final aggregate keyed on the
    # pair computes all three statistics in one pass over the fact
    # table. The aggregated frame is bounded by |brands|² (never
    # corpus-scale), so materializing IT with an eager localCheckpoint
    # is free, and the final assembly joins tiny frames only.
    # Measured at sf0.1 (interleaved best-of-4): 2.090 s vs 2.318 s;
    # plan: 7 exchanges / 4 fact-table passes → 3 exchanges (basket
    # shuffle + unified aggregate + tiny assembly) / 1 fact pass.
    unified = baskets.select(
        F.explode(
            F.expr(
                "concat("
                " flatten(transform(brands, (x, i) ->"
                "   transform(slice(brands, i + 2, size(brands)),"
                "     y -> struct(x AS brand_a, y AS brand_b)))),"
                " transform(brands, x -> struct(x AS brand_a, CAST(NULL AS STRING) AS brand_b)),"
                " array(struct(CAST(NULL AS STRING) AS brand_a, CAST(NULL AS STRING) AS brand_b)))"
            )
        ).alias("p")
    )
    counts = unified.groupBy(
        F.col("p.brand_a").alias("brand_a"), F.col("p.brand_b").alias("brand_b")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    counts = counts.localCheckpoint(eager=True)
    pairs = (
        counts.filter(F.col("brand_a").isNotNull() & F.col("brand_b").isNotNull())
        .filter(F.col("cnt") >= 5)
        .withColumnRenamed("cnt", "pair_cnt")
    )
    bc = counts.filter(
        F.col("brand_a").isNotNull() & F.col("brand_b").isNull()
    ).select(F.col("brand_a").alias("p_brand"), F.col("cnt").alias("brand_cnt"))
    n = counts.filter(F.col("brand_a").isNull()).select(
        F.col("cnt").alias("n_orders")
    )
    return (
        pairs.join(
            F.broadcast(bc.withColumnsRenamed({"p_brand": "brand_a", "brand_cnt": "cnt_a"})),
            "brand_a",
        )
        .join(
            F.broadcast(bc.withColumnsRenamed({"p_brand": "brand_b", "brand_cnt": "cnt_b"})),
            "brand_b",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "brand_a",
            "brand_b",
            "pair_cnt",
            F.round(F.col("pair_cnt").cast("double") / F.col("n_orders"), 6).alias(
                "support"
            ),
            F.round(
                F.col("pair_cnt").cast("double")
                * F.col("n_orders")
                / (F.col("cnt_a") * F.col("cnt_b")),
                6,
            ).alias("lift"),
        )
    )


# --- A8 ext: MAD robust outliers ----------------------------------------

_MAD_ORACLE = """
WITH c AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
), med AS (
  SELECT event_type, CAST(2 * median(cents) AS BIGINT) AS med2
  FROM c GROUP BY 1
), d AS (
  SELECT c.event_type, cents, med2, abs(2 * cents - med2) AS d2
  FROM c JOIN med USING (event_type)
), mad AS (
  SELECT event_type, CAST(2 * median(d2) AS BIGINT) AS mad2
  FROM d GROUP BY 1
)
SELECT d.event_type,
       count(*) AS n,
       round(CAST(max(med2) AS DOUBLE) / 200.0, 4) AS median_value,
       round(CAST(max(mad2) AS DOUBLE) / 400.0, 4) AS mad_value,
       CAST(count(*) FILTER (WHERE 2 * d2 > 3 * mad2) AS BIGINT) AS n_outliers
FROM d JOIN mad USING (event_type)
GROUP BY 1
"""


@register("mad_robust_outliers", oracle=_MAD_ORACLE, tags=("A8", "ext"))
def mad_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 ext: robust outlier detection via median absolute deviation.
    All medians are over integers (cents), and a median of integers is
    either k or k+0.5 — doubling it first makes every compared value
    an exact BIGINT, so the outlier cut |v - med| > 3·MAD is the
    integer test 2·d2 > 3·mad2 with zero float boundaries. Two
    broadcast-size statistic tables join back to the fact; exact
    ``median`` is a single-shuffle sort-based aggregate per group."""
    c = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
        )
    )
    med = c.groupBy("event_type").agg(
        (2 * F.median("cents")).cast("long").alias("med2")
    )
    d = c.join(F.broadcast(med), "event_type").withColumn(
        "d2", F.abs(2 * F.col("cents") - F.col("med2"))
    )
    mad = d.groupBy("event_type").agg((2 * F.median("d2")).cast("long").alias("mad2"))
    return (
        d.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.max("med2").cast("double") / 200.0, 4).alias("median_value"),
            F.round(F.max("mad2").cast("double") / 400.0, 4).alias("mad_value"),
            F.sum(
                F.when(2 * F.col("d2") > 3 * F.col("mad2"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
    )


# --- W3/F2 ext: time-weighted average -----------------------------------

_TWAP_ORACLE = """
WITH seq AS (
  -- floor(epoch) mirrors Spark's unix_timestamp second truncation
  -- (fixture timestamps carry sub-second components — FIXTURES.md)
  SELECT user_id, ts, CAST(value AS DECIMAL(18,2)) AS v,
         lead(CAST(floor(epoch(ts)) AS BIGINT))
             OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - CAST(floor(epoch(ts)) AS BIGINT) AS dur_s
  FROM events WHERE value IS NOT NULL AND user_id % 10 = 0
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_intervals,
       CAST(sum(CAST(dur_s AS BIGINT)) AS BIGINT) AS total_dur_s,
       round(CAST(sum(v * CAST(dur_s AS BIGINT)) AS DOUBLE)
             / sum(CAST(dur_s AS BIGINT)), 4) AS twap
FROM seq
WHERE dur_s IS NOT NULL AND dur_s > 0
GROUP BY user_id
"""


@register("twap_per_user", oracle=_TWAP_ORACLE, tags=("W3", "F2", "ext"))
def twap_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3/F2 ext: time-weighted average value per user — each reading
    is weighted by how long it was current (the interval to the next
    event). Weights are exact integer seconds and the weighted sum is
    DECIMAL (associative, partition-order-proof); the single double
    division happens after aggregation. One user-partitioned window +
    one aggregate on the same key: a single shuffle."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & (F.col("user_id") % 10 == 0))
        .select(
            "user_id",
            "ts",
            "event_id",
            F.col("value").cast("decimal(18,2)").alias("v"),
        )
        .withColumn(
            "dur_s",
            (F.lead(F.unix_timestamp("ts")).over(w) - F.unix_timestamp("ts")).cast(
                "long"
            ),
        )
        .filter(F.col("dur_s").isNotNull() & (F.col("dur_s") > 0))
    )
    return seq.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("dur_s").alias("total_dur_s"),
        F.round(
            F.sum(F.col("v") * F.col("dur_s")).cast("double") / F.sum("dur_s"), 4
        ).alias("twap"),
    )


# --- A2/W2 ext: lag-1 autocorrelation of daily counts -------------------

_AUTOCORR_ORACLE = """
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         count(*) AS c
  FROM events GROUP BY 1, 2
), pairs AS (
  SELECT event_type, c AS x,
         lag(c) OVER (PARTITION BY event_type ORDER BY d) AS y
  FROM daily
), s AS (
  SELECT event_type, count(*) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         sum(x * x) AS sxx, sum(y * y) AS syy
  FROM pairs WHERE y IS NOT NULL GROUP BY 1
)
SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
       round((n * sxy - sx * sy)
             / nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                           * CAST(n * syy - sy * sy AS DOUBLE)), 0),
             6) AS acf1
FROM s
"""


@register("autocorr_daily_lag1", oracle=_AUTOCORR_ORACLE, tags=("A2", "W2", "ext"))
def autocorr_daily_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/W2 ext: lag-1 autocorrelation of the per-type daily event
    count series — the burstiness diagnostic. Pearson r is assembled
    from exact BIGINT moment sums (counts and their products), so the
    only floats are one subtraction/multiply/sqrt/divide chain —
    correctly-rounded IEEE ops evaluated identically by both engines
    — then rounded. The day series per type is tiny (one row per
    day×type) regardless of input scale; the heavy step is the first
    map-side-combined aggregate."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("d"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("event_type").orderBy("d")
    pairs = daily.select(
        "event_type", F.col("c").alias("x"), F.lag("c").over(w).alias("y")
    ).filter(F.col("y").isNotNull())
    s = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return s.select(
        "event_type",
        F.col("n").alias("n_pairs"),
        F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("acf1"),
    )


# --- A1 ext: chi-square independence test -------------------------------

_CHISQ_ORACLE = """
WITH obs AS (
  SELECT c_mktsegment AS seg, c_nationkey AS nk, count(*) AS o
  FROM customer GROUP BY 1, 2
), rt AS (SELECT seg, sum(o) AS row_tot FROM obs GROUP BY 1),
ct AS (SELECT nk, sum(o) AS col_tot FROM obs GROUP BY 1),
n AS (SELECT sum(o) AS total FROM obs),
terms AS (
  SELECT CAST(round(
           pow(o - CAST(row_tot * col_tot AS DOUBLE) / total, 2)
             / (CAST(row_tot * col_tot AS DOUBLE) / total),
           6) AS DECIMAL(28,6)) AS term
  FROM obs JOIN rt USING (seg) JOIN ct USING (nk) CROSS JOIN n
)
SELECT CAST(round(sum(term), 4) AS DOUBLE) AS chisq,
       CAST((SELECT count(*) FROM rt) - 1 AS BIGINT)
         * CAST((SELECT count(*) FROM ct) - 1 AS BIGINT) AS dof,
       CAST((SELECT total FROM n) AS BIGINT) AS n
FROM terms
"""


@register("chisq_segment_nation", oracle=_CHISQ_ORACLE, tags=("A1", "ext"))
def chisq_segment_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 ext: chi-square independence statistic for the market-segment
    × nation contingency table. Observed counts and marginals are
    exact integers; each cell's (O−E)²/E is one double expression
    (identical on both engines), rounded per-term and summed as
    DECIMAL so the 125-term sum is order-independent. The contingency
    table is |segments|×|nations| rows at any input scale — the heavy
    step is the first map-side-combined count."""
    obs = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_mktsegment").alias("seg"), F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("o"))
    )
    rt = obs.groupBy("seg").agg(F.sum("o").alias("row_tot"))
    ct = obs.groupBy("nk").agg(F.sum("o").alias("col_tot"))
    n = obs.select(F.sum("o").alias("total"))
    e = (F.col("row_tot") * F.col("col_tot")).cast("double") / F.col("total")
    term = F.round(F.pow(F.col("o") - e, 2) / e, 6).cast("decimal(28,6)")
    terms = (
        obs.join(F.broadcast(rt), "seg")
        .join(F.broadcast(ct), "nk")
        .crossJoin(F.broadcast(n))
        .select(term.alias("term"))
    )
    dof = (
        rt.agg((F.count(F.lit(1)) - 1).alias("dof_r"))
        .crossJoin(ct.agg((F.count(F.lit(1)) - 1).alias("dof_c")))
        .select((F.col("dof_r") * F.col("dof_c")).cast("long").alias("dof"))
    )
    return (
        terms.agg(F.round(F.sum("term"), 4).cast("double").alias("chisq"))
        .crossJoin(F.broadcast(dof))
        .crossJoin(F.broadcast(n.select(F.col("total").cast("long").alias("n"))))
    )


# --- A1/W3 ext: Gini revenue concentration ------------------------------

_GINI_ORACLE = """
WITH rev AS (
  SELECT c_nationkey AS nk, c_custkey,
         CAST(coalesce(sum(CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 100, 0)
                               AS BIGINT)), 0) AS BIGINT) AS rev_cents
  FROM customer LEFT JOIN orders ON o_custkey = c_custkey
  GROUP BY 1, 2
), ranked AS (
  SELECT nk, rev_cents,
         row_number() OVER (PARTITION BY nk ORDER BY rev_cents, c_custkey) AS r
  FROM rev
), s AS (
  SELECT nk, count(*) AS n,
         CAST(sum(CAST(rev_cents AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS tot,
         CAST(sum(CAST(r AS DECIMAL(38,0)) * rev_cents) AS DECIMAL(38,0)) AS rw
  FROM ranked GROUP BY 1
)
SELECT n_name, CAST(n AS BIGINT) AS n_customers,
       round(2.0 * CAST(rw AS DOUBLE) / (n * CAST(tot AS DOUBLE))
             - (n + 1.0) / n, 6) AS gini
FROM s JOIN nation ON n_nationkey = nk
WHERE tot > 0
"""


@register("gini_revenue_by_nation", oracle=_GINI_ORACLE, tags=("A1", "W3", "ext"))
def gini_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/W3 ext: Gini coefficient of customer revenue concentration
    per nation, via the rank-weighted-sum identity
    G = 2·Σ(r·x)/(n·Σx) − (n+1)/n. Revenue is exact cents, ranks use
    the total order (rev, custkey), and both Σ terms accumulate as
    DECIMAL(38,0) (overflow-proof at any scale) before one double
    expression. The window partitions by nation — at extreme
    per-nation cardinality the two-pass histogram/prefix-sum form
    (as ``abc_revenue_classes`` uses) drops the sort entirely; the
    rank identity keeps this single-window version exact."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    rev = (
        cust.join(orders, orders.o_custkey == cust.c_custkey, "left")
        .groupBy(F.col("c_nationkey").alias("nk"), "c_custkey")
        .agg(
            F.coalesce(
                F.sum(
                    F.round(F.col("o_totalprice").cast("decimal(18,2)") * 100, 0).cast(
                        "long"
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("rev_cents")
        )
    )
    w = Window.partitionBy("nk").orderBy("rev_cents", "c_custkey")
    ranked = rev.withColumn("r", F.row_number().over(w))
    s = ranked.groupBy("nk").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rev_cents").cast("decimal(38,0)")).alias("tot"),
        F.sum(F.col("r").cast("decimal(38,0)") * F.col("rev_cents")).alias("rw"),
    )
    nation = load_table(spark, sf_dir, "nation")
    return (
        s.filter(F.col("tot") > 0)
        .join(F.broadcast(nation), nation.n_nationkey == F.col("nk"))
        .select(
            "n_name",
            F.col("n").alias("n_customers"),
            F.round(
                2.0 * F.col("rw").cast("double") / (F.col("n") * F.col("tot").cast("double"))
                - (F.col("n") + 1.0) / F.col("n"),
                6,
            ).alias("gini"),
        )
    )


# --- A2 ext: Herfindahl-Hirschman concentration -------------------------

_HHI_ORACLE = """
WITH rev AS (
  SELECT n_name,
         l_suppkey,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS c
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  GROUP BY 1, 2
), s AS (
  SELECT n_name, count(*) AS n_suppliers,
         CAST(sum(CAST(c AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS tot,
         CAST(sum(CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0)) AS sq
  FROM rev GROUP BY 1
)
SELECT n_name, CAST(n_suppliers AS BIGINT) AS n_suppliers,
       round(10000.0 * CAST(sq AS DOUBLE)
             / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)), 4) AS hhi
FROM s WHERE tot > 0
"""


@register("hhi_supplier_concentration", oracle=_HHI_ORACLE, tags=("A2", "J8", "ext"))
def hhi_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 ext: Herfindahl-Hirschman index of supplier revenue
    concentration per nation — HHI = 10000·Σshareᵢ², the antitrust /
    supply-risk statistic (10000 = monopoly, →0 = atomized). Computed
    without shares: 10000·Σcᵢ²/(Σcᵢ)² over exact integer cents with
    DECIMAL(38,0) accumulators, so there is ONE double expression at
    the end and no per-supplier float division. Two hash aggregates,
    no window at all — `gini_revenue_by_nation`'s rank-free sibling,
    trivially 100 TB-safe."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .groupBy("n_name", "l_suppkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("c")
        )
    )
    dec = F.col("c").cast("decimal(38,0)")
    s = rev.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(dec).alias("tot"),
        F.sum(dec * F.col("c")).alias("sq"),
    )
    return s.filter(F.col("tot") > 0).select(
        "n_name",
        F.col("n_suppliers").cast("long").alias("n_suppliers"),
        F.round(
            10000.0
            * F.col("sq").cast("double")
            / (F.col("tot").cast("double") * F.col("tot").cast("double")),
            4,
        ).alias("hhi"),
    )


# --- F3 ext: Benford first-digit audit ----------------------------------

_BENFORD_ORACLE = """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1)
              AS BIGINT) AS digit
  FROM orders WHERE o_totalprice > 0
), n AS (SELECT count(*) AS n FROM d)
SELECT digit, count(*) AS observed,
       round(CAST(count(*) AS DOUBLE) / max(n.n), 6) AS obs_share,
       round(log10(1.0 + 1.0 / digit), 6) AS benford_share
FROM d CROSS JOIN n
GROUP BY digit
"""


@register("benford_first_digit", oracle=_BENFORD_ORACLE, tags=("F3", "A1", "ext"))
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 ext: Benford's-law first-digit audit of order totals — the
    classic anomaly/fraud screen (organic monetary data follows
    P(d) = log10(1+1/d); fabricated or truncated data doesn't). The
    first digit is extracted from the exact integer-cents STRING, not
    float log arithmetic, so digit assignment has zero boundary risk;
    shares are one double division each. Output is 9 rows from one
    map-side-combined count at any scale."""
    d = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 0)
        .select(
            F.substring(
                F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
            )
            .cast("long")
            .alias("digit")
        )
    )
    n = d.agg(F.count(F.lit(1)).alias("n"))
    return (
        d.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("observed"))
        .crossJoin(F.broadcast(n))
        .select(
            "digit",
            "observed",
            F.round(F.col("observed").cast("double") / F.col("n"), 6).alias(
                "obs_share"
            ),
            F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias("benford_share"),
        )
    )


# --- W3 ext: CUSUM changepoint scan -------------------------------------

_CUSUM_ORACLE = """
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
         count(*) AS x
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT event_type, count(*) AS k, sum(x) AS s FROM daily GROUP BY 1
), cum AS (
  SELECT daily.event_type, d, k, s,
         sum(x) OVER (PARTITION BY daily.event_type ORDER BY d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cx,
         row_number() OVER (PARTITION BY daily.event_type ORDER BY d) AS i
  FROM daily JOIN tot USING (event_type)
), dev AS (
  SELECT event_type, d, abs(k * cx - i * s) AS adev
  FROM cum
)
SELECT event_type,
       CAST(min(CASE WHEN adev = m THEN d END) AS BIGINT) AS changepoint_day,
       CAST(m AS BIGINT) AS max_abs_dev_scaled
FROM (SELECT *, max(adev) OVER (PARTITION BY event_type) AS m FROM dev)
GROUP BY event_type, m
"""


@register("cusum_changepoint", oracle=_CUSUM_ORACLE, tags=("W3", "A2", "ext"))
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 ext: CUSUM changepoint scan over the per-type daily count
    series — the day where the cumulative deviation from the series
    mean peaks (the standard level-shift locator). Scaled by the day
    count k to stay integer: |k·cumsumᵢ − i·total| avoids the
    fractional mean entirely, so the argmax (earliest day on ties) is
    pure-integer deterministic. Facts collapse to the day×type table
    map-side; every window runs over day-cardinality rows."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("d"),
        )
        .agg(F.count(F.lit(1)).alias("x"))
    )
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("k"), F.sum("x").alias("s")
    )
    wo = Window.partitionBy("event_type").orderBy("d")
    cum = (
        daily.join(F.broadcast(tot), "event_type")
        .withColumn(
            "cx", F.sum("x").over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        )
        .withColumn("i", F.row_number().over(wo))
    )
    dev = cum.select(
        "event_type", "d", F.abs(F.col("k") * F.col("cx") - F.col("i") * F.col("s")).alias("adev")
    )
    wm = Window.partitionBy("event_type")
    return (
        dev.withColumn("m", F.max("adev").over(wm))
        .groupBy("event_type", "m")
        .agg(
            F.min(F.when(F.col("adev") == F.col("m"), F.col("d")))
            .cast("long")
            .alias("changepoint_day"),
        )
        .select(
            "event_type",
            "changepoint_day",
            F.col("m").cast("long").alias("max_abs_dev_scaled"),
        )
    )


# --- A1 ext: user survival (attrition) curve ----------------------------

_SURVIVAL_ORACLE = """
WITH span AS (
  SELECT user_id,
         date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE))
           AS lifespan
  FROM events GROUP BY 1
), hist AS (
  SELECT lifespan, count(*) AS cnt FROM span GROUP BY 1
), n AS (SELECT sum(cnt) AS n_users FROM hist)
SELECT a.lifespan AS age,
       CAST(sum(b.cnt) AS BIGINT) AS n_surviving,
       round(CAST(sum(b.cnt) AS DOUBLE) / max(n.n_users), 6) AS survival_rate
FROM hist a
JOIN hist b ON b.lifespan >= a.lifespan
CROSS JOIN n
GROUP BY a.lifespan
"""


@register("user_survival_curve", oracle=_SURVIVAL_ORACLE, tags=("A1", "W3", "ext"))
def user_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 ext: Kaplan-Meier-style survival curve — for each observed
    lifespan age (days between a user's first and last event), the
    count and fraction of users whose lifespan reached it. The heavy
    pass collapses facts to one row per user (min/max), then to the
    lifespan HISTOGRAM; the reverse-cumulative is a range self-join
    over that histogram — O(D²) on the day-range-bounded domain D
    (calendar days, never user cardinality), which keeps the whole
    query window-free: no global sort exists at any scale. Integer
    counts, one double division."""
    span = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.datediff(F.to_date(F.max("ts")), F.to_date(F.min("ts"))).alias(
                "lifespan"
            )
        )
    )
    hist = span.groupBy("lifespan").agg(F.count(F.lit(1)).alias("cnt"))
    n = hist.agg(F.sum("cnt").alias("n_users"))
    a = hist.select(F.col("lifespan").alias("age"))
    b = hist.select(F.col("lifespan").alias("lb"), "cnt")
    return (
        a.join(F.broadcast(b), F.col("lb") >= F.col("age"))
        .groupBy("age")
        .agg(F.sum("cnt").cast("long").alias("n_surviving"))
        .crossJoin(F.broadcast(n))
        .select(
            "age",
            "n_surviving",
            F.round(
                F.col("n_surviving").cast("double") / F.col("n_users"), 6
            ).alias("survival_rate"),
        )
    )


# --- Graph analytics: triangle counting on the co-occurrence graph ------

def triangle_oracle(orderkey_below: int | None = None) -> str:
    """DuckDB oracle for ``graph_triangle_count`` with an optional
    replica bound (VERDICT r15 #2): the decade restager builds R
    disjoint sub-databases (every lineitem/part key offset per
    replica, non-key columns — including p_brand — verbatim), so the
    corpus co-occurrence graph is exactly R identical copies merged:
    per-pair support s = R * s_replica0 for EVERY pair, the discrete
    quantile threshold scales by the same R, and the thresholded edge
    set — hence the triangle counts — is identical to replica 0's.
    An oracle restricted to replica 0 (`l_orderkey < ID_OFFSET`) is
    therefore exact for the FULL decade input by construction, while
    its self-join stays sf0.1-sized; the engine arm runs the whole
    input unscoped. Default (None) reproduces the registered oracle
    (the invariants are pinned by tests/test_restage_decade.py and
    the sweep's replica-consistency check)."""
    filt = (
        f"\n  WHERE l_orderkey < {orderkey_below}"
        if orderkey_below is not None
        else ""
    )
    return f"""
WITH bl AS (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON p_partkey = l_partkey{filt}
), co_all AS (
  SELECT a.p_brand AS ba, b.p_brand AS bb, CAST(count(*) AS BIGINT) AS s
  FROM bl a JOIN bl b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY 1, 2
), tot AS (
  SELECT CAST(quantile_disc(s, 0.75) AS BIGINT) AS q75 FROM co_all
), co AS (
  SELECT ba, bb FROM co_all, tot WHERE s >= q75
), tri AS (
  SELECT e1.ba AS a, e1.bb AS b, e2.bb AS c
  FROM co e1
  JOIN co e2 ON e1.bb = e2.ba
  JOIN co e3 ON e3.ba = e1.ba AND e3.bb = e2.bb
)
SELECT brand, CAST(count(*) AS BIGINT) AS n_triangles FROM (
  SELECT a AS brand FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
) GROUP BY brand
"""


_TRIANGLE_ORACLE = triangle_oracle()


def _affinity_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The high-affinity brand graph shared by the triangle count and
    the k-core peel: brand pairs ``(ba, bb)``, ``ba < bb``, that
    co-appear in orders at or above the top-quartile edge support
    (exact integer percentile_disc gate).

    Eagerly checkpointed: the triangle count references the edge list
    nine times (three edge roles, three-way vertex union) and each peel
    round three times (two semi-joins + the degree aggregate), so
    without lineage truncation Spark replays the corpus-sized
    co-occurrence self-join per reference — 27x after three peel
    rounds, the exponential-lineage trap every iterative graph
    algorithm hits (same discipline as operators/components.py). The
    edge set is tiny post-threshold, so materializing it is ~free."""
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    bl = (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    a = bl.select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("ba"))
    b = bl.select(F.col("l_orderkey").alias("ok2"), F.col("p_brand").alias("bb"))
    co_all = (
        a.join(b, (F.col("ok") == F.col("ok2")) & (F.col("ba") < F.col("bb")))
        .groupBy("ba", "bb")
        .agg(F.count(F.lit(1)).cast("long").alias("s"))
    )
    tot = co_all.agg(
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY s)")
        .cast("long")
        .alias("q75")
    )
    return (
        co_all.crossJoin(F.broadcast(tot))
        .filter(F.col("s") >= F.col("q75"))
        .select("ba", "bb")
        .localCheckpoint(eager=True)
    )


@register("graph_triangle_count", oracle=_TRIANGLE_ORACLE, tags=("J1", "A1", "ext"))
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-based TRIANGLE COUNTING — the canonical distributed graph
    primitive (clustering coefficients, community strength, spam
    detection) run entirely as relational joins: per-brand triangle
    participation over the high-affinity brand co-occurrence graph.
    Edges = brand pairs co-appearing in an order in the TOP QUARTILE of
    edge support (exact integer percentile_disc gate — scale-stable
    where an absolute or mean-relative threshold saturates or
    collapses as co-occurrence counts concentrate). Triangles enumerate via the canonical
    a<b<c orientation: edge(a,b) ⋈ edge(b,c) ⋈ edge(a,c) — each
    triangle counted exactly once, two hash joins, no explosion
    beyond wedge count. At 100 TB the same plan is the MapReduce
    triangle algorithm (Suri & Vassilvitskii 2011): orientation
    bounds wedge fan-out by the smaller-degree endpoint, and every
    join hash-partitions on its key."""
    co = _affinity_edges(spark, sf_dir)
    e1 = co.select(F.col("ba").alias("a"), F.col("bb").alias("b"))
    e2 = co.select(F.col("ba").alias("b2"), F.col("bb").alias("c"))
    e3 = co.select(F.col("ba").alias("a3"), F.col("bb").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
    )
    verts = (
        tri.select(F.col("a").alias("brand"))
        .unionAll(tri.select(F.col("b").alias("brand")))
        .unionAll(tri.select(F.col("c").alias("brand")))
    )
    return verts.groupBy("brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


# --- Graph analytics #2: fixed-round k-core peeling ---------------------

_KCORE_K = 4
_KCORE_ROUNDS = 3

_KCORE_ORACLE = """
WITH bl AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, p_brand
  FROM lineitem JOIN part ON p_partkey = l_partkey
), co_all AS MATERIALIZED (
  SELECT a.p_brand AS ba, b.p_brand AS bb, CAST(count(*) AS BIGINT) AS s
  FROM bl a JOIN bl b
    ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
  GROUP BY 1, 2
), tot AS (
  SELECT CAST(quantile_disc(s, 0.75) AS BIGINT) AS q75 FROM co_all
), e0 AS MATERIALIZED (
  SELECT ba, bb FROM co_all, tot WHERE s >= q75
), d0 AS MATERIALIZED (
  SELECT v, count(*) AS d
  FROM (SELECT ba AS v FROM e0 UNION ALL SELECT bb FROM e0) GROUP BY v
), k0 AS MATERIALIZED (SELECT v FROM d0 WHERE d >= 4),
e1 AS MATERIALIZED (SELECT ba, bb FROM e0
       WHERE ba IN (SELECT v FROM k0) AND bb IN (SELECT v FROM k0)),
d1 AS MATERIALIZED (SELECT v, count(*) AS d
       FROM (SELECT ba AS v FROM e1 UNION ALL SELECT bb FROM e1) GROUP BY v),
k1 AS MATERIALIZED (SELECT v FROM d1 WHERE d >= 4),
e2 AS MATERIALIZED (SELECT ba, bb FROM e1
       WHERE ba IN (SELECT v FROM k1) AND bb IN (SELECT v FROM k1)),
d2 AS MATERIALIZED (SELECT v, count(*) AS d
       FROM (SELECT ba AS v FROM e2 UNION ALL SELECT bb FROM e2) GROUP BY v),
k2 AS MATERIALIZED (SELECT v FROM d2 WHERE d >= 4),
e3 AS MATERIALIZED (SELECT ba, bb FROM e2
       WHERE ba IN (SELECT v FROM k2) AND bb IN (SELECT v FROM k2)),
d3 AS MATERIALIZED (SELECT v, count(*) AS d
       FROM (SELECT ba AS v FROM e3 UNION ALL SELECT bb FROM e3) GROUP BY v)
SELECT v AS brand, CAST(d AS BIGINT) AS induced_degree FROM d3
"""


@register("graph_kcore_peeling", oracle=_KCORE_ORACLE, tags=("J3", "A1", "ext"))
def graph_kcore_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-CORE PEELING (fixed rounds) on the high-affinity brand graph:
    repeatedly delete vertices of induced degree < 4, three rounds,
    and report the survivors' induced degrees — the standard
    community-density primitive (a vertex in the k-core after
    convergence belongs to a subgraph where everyone has >= k
    neighbors). Both engines run EXACTLY the same fixed round count —
    the Spark side composes the three peel iterations as plan
    operators in a Python loop (semi-joins + re-aggregation; no
    driver data movement), the oracle unrolls them as CTE stages — so
    equivalence holds by construction at any scale, independent of
    when the peel happens to converge. Each round is one degree
    aggregate + two semi joins, all hash-partitioned on the vertex;
    at convergence-critical scale you iterate to fixpoint with the
    same loop and a driver convergence check, exactly like
    `operators/components.py`."""
    edges = _affinity_edges(spark, sf_dir)

    def degrees(e: DataFrame) -> DataFrame:
        verts = e.select(F.col("ba").alias("v")).unionAll(
            e.select(F.col("bb").alias("v"))
        )
        return verts.groupBy("v").agg(F.count(F.lit(1)).alias("d"))

    for _ in range(_KCORE_ROUNDS):
        keep = degrees(edges).filter(F.col("d") >= _KCORE_K).select("v")
        edges = (
            edges.join(keep, edges.ba == keep.v, "left_semi")
            .join(keep, edges.bb == keep.v, "left_semi")
            .localCheckpoint(eager=True)
        )
    return degrees(edges).select(
        F.col("v").alias("brand"), F.col("d").cast("long").alias("induced_degree")
    )


# --- Feature cleaning: percentile winsorization (clip at P5/P95) --------

_WINSOR_ORACLE = """
WITH cents AS (
  SELECT c_mktsegment,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
  FROM orders JOIN customer ON o_custkey = c_custkey
), bounds AS (
  SELECT c_mktsegment,
         CAST(quantile_disc(price_cents, 0.05) AS BIGINT) AS lo,
         CAST(quantile_disc(price_cents, 0.95) AS BIGINT) AS hi
  FROM cents GROUP BY c_mktsegment
)
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(*) FILTER (WHERE price_cents < lo OR price_cents > hi)
            AS BIGINT) AS n_clipped,
       CAST(sum(least(greatest(price_cents, lo), hi)) AS BIGINT)
         AS winsorized_cents,
       CAST(sum(price_cents) AS BIGINT) AS raw_cents
FROM cents c JOIN bounds b ON c.c_mktsegment = b.c_mktsegment
GROUP BY c.c_mktsegment
"""


@register("winsorize_order_values", oracle=_WINSOR_ORACLE, tags=("A8", "F3", "ext"))
def winsorize_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature cleaning by WINSORIZATION: per market segment, clip
    order values into the [P5, P95] band and report the clipped count
    plus raw-vs-winsorized mass — the standard outlier treatment
    before feeding monetary features to a model (unlike dropping,
    winsorizing keeps the row but bounds its leverage). Percentiles
    are DISCRETE (exact member values, integer cents), so the clip
    bounds and every clipped value are pure integer arithmetic on
    both engines. Two passes over a single shuffle key: the per-group
    bounds aggregate (tiny) joins back onto the same
    segment-partitioned stream."""
    cents = (
        load_table(spark, sf_dir, "orders")
        .join(
            load_table(spark, sf_dir, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "c_mktsegment",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
        )
    )
    bounds = cents.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY price_cents)")
        .cast("long")
        .alias("lo"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY price_cents)")
        .cast("long")
        .alias("hi"),
    )
    clipped = cents.join(
        F.broadcast(bounds), cents.c_mktsegment == bounds.seg
    ).select(
        "c_mktsegment",
        "price_cents",
        "lo",
        "hi",
        F.least(F.greatest(F.col("price_cents"), F.col("lo")), F.col("hi")).alias(
            "w_cents"
        ),
    )
    return clipped.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.count(
            F.when(
                (F.col("price_cents") < F.col("lo"))
                | (F.col("price_cents") > F.col("hi")),
                1,
            )
        )
        .cast("long")
        .alias("n_clipped"),
        F.sum("w_cents").cast("long").alias("winsorized_cents"),
        F.sum("price_cents").cast("long").alias("raw_cents"),
    )
