"""Scale-pattern queries: salted aggregation (skew mitigation) and an
IVF-style two-stage ANN search — each exact-oracle-checked so the
rewrite is PROVEN equivalent to the direct form, not just asserted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gostream_spark.functions import centroids, cosine_similarity
from gostream_spark.io import load_table
from gostream_spark.operators.ranking import topk, topk_ranked
from gostream_spark.operators.skew import salted_agg, salted_join
from gostream_spark.parity import dec2
from gostream_spark.queries.llm_similarity import _duck_cosine
from gostream_spark.registry import register

# --- salted two-stage aggregation --------------------------------------

_SALT_ORACLE = """
SELECT event_type,
       count(*) AS event_cnt,
       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
FROM events GROUP BY event_type
"""


@register("skew_salted_agg", oracle=_SALT_ORACLE, tags=("A1", "ext"))
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation over a low-cardinality (hence
    skew-prone) key. The oracle is the DIRECT group-by: passing proves
    the salt rewrite exact (decimal partials merge associatively).
    At 100 TB this caps the largest reducer at input/salt_n rows."""
    ev = load_table(spark, sf_dir, "events")
    return salted_agg(
        ev,
        keys=["event_type"],
        partial_aggs=(
            F.count(F.lit(1)).alias("p_cnt"),
            F.sum(dec2("value")).alias("p_sum"),
        ),
        final_aggs=(
            F.sum("p_cnt").alias("event_cnt"),
            F.round(F.sum("p_sum"), 2).cast("double").alias("total_value"),
        ),
        salt_n=16,
    )


# --- salted skew-proof join --------------------------------------------

_SALT_JOIN_ORACLE = """
SELECT n_name,
       count(*) AS event_cnt,
       CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
FROM events e JOIN nation n
  ON n.n_nationkey = (CASE WHEN e.event_id % 10 < 9 THEN 0
                           ELSE e.event_id % 25 END)
GROUP BY n_name
"""


@register("skew_salted_join", oracle=_SALT_JOIN_ORACLE, tags=("J1", "ext"), bench=True)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join on a 90%-one-key join: 9 of 10 events collapse onto
    nation key 0, the classic hot-key layout where one reducer
    serializes the whole shuffle stage at 100 TB. ``salted_join``
    spreads the hot key over 16 reducers by replicating the dim side;
    the shuffle_hash hint keeps the demo honest (models the
    right-side-too-big-to-broadcast case this operator exists for —
    with a broadcastable dim you'd just broadcast). The oracle is the
    DIRECT join: passing proves the salt rewrite exact."""
    ev = load_table(spark, sf_dir, "events")
    nat = load_table(spark, sf_dir, "nation")
    skewed = ev.withColumn(
        "k",
        F.when(F.col("event_id") % 10 < 9, F.lit(0)).otherwise(
            F.col("event_id") % 25
        ).cast("long"),
    )
    dim = nat.select(F.col("n_nationkey").alias("k"), "n_name").hint("shuffle_hash")
    joined = salted_join(skewed, dim, "k", salt_n=16)
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("event_cnt"),
        F.round(F.sum(dec2("value")), 2).cast("double").alias("total_value"),
    )


# --- IVF-style two-stage ANN search ------------------------------------

_IVF_ORACLE = f"""
WITH elems AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS v
  FROM embeddings
), cent_elems AS (
  SELECT label, pos,
         round(CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,7))) AS DOUBLE)
               / count(*), 6) AS c
  FROM elems GROUP BY label, pos
), centroids AS (
  SELECT label AS c_label, list(c ORDER BY pos) AS cv FROM cent_elems GROUP BY label
), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
probe AS (
  SELECT c_label FROM (
    SELECT c.c_label,
           row_number() OVER (ORDER BY round({_duck_cosine('c.cv', 'q.qv')}, 6) DESC,
                              c.c_label) AS crn
    FROM centroids c, q
  ) WHERE crn <= 3
)
SELECT vec_id, label, cos, rn FROM (
  SELECT e.vec_id, e.label,
         round({_duck_cosine('e.embedding', 'q.qv')}, 6) AS cos,
         row_number() OVER (ORDER BY round({_duck_cosine('e.embedding', 'q.qv')}, 6) DESC,
                            e.vec_id) AS rn
  FROM embeddings e, q
  WHERE e.vec_id <> 0 AND e.label IN (SELECT c_label FROM probe)
) WHERE rn <= 10
"""


@register("ivf_topk", oracle=_IVF_ORACLE, tags=("L3", "ext"), bench=True)
def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse quantizer = per-label centroids (the
    inverted-file cells); the query scores the 10 centroids, probes
    the top-3 cells, and runs exact top-k only inside them — scanning
    ~30% of the corpus here, and 1/nlist·nprobe of it in general.
    This is the scale path when LSH recall is insufficient; the
    brute-force twin (`similarity_topk`) is the recall baseline. Exact
    oracle: DuckDB replicates both stages bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = centroids(emb, "label").withColumnRenamed("label", "c_label")
    q = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    )
    probe = topk(
        cents.crossJoin(q),
        3,
        F.round(cosine_similarity(F.col("cv"), F.col("qv")), 6).desc(),
        F.col("c_label"),
    ).select("c_label")
    candidates = emb.filter(F.col("vec_id") != 0).join(
        F.broadcast(probe), emb.label == F.col("c_label")
    )
    scored = candidates.crossJoin(q).select(
        "vec_id",
        "label",
        F.round(cosine_similarity(F.col("embedding"), F.col("qv")), 6).alias("cos"),
    )
    return topk_ranked(scored, 10, F.col("cos").desc(), F.col("vec_id"))


# --- skew diagnostics: join-key profile ---------------------------------

_SKEW_PROFILE_ORACLE = """
WITH ok AS (
  SELECT o_custkey AS k, count(*) AS c FROM orders GROUP BY 1),
lk AS (
  SELECT l_orderkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
prof AS (
  SELECT 'orders.o_custkey' AS key_col, count(*) AS n_keys,
         CAST(max(c) AS BIGINT) AS max_per_key,
         CAST(quantile_disc(c, 0.5) AS BIGINT) AS p50_per_key,
         CAST(quantile_disc(c, 0.99) AS BIGINT) AS p99_per_key,
         CAST(10000 * max(c) // sum(c) AS BIGINT) AS top_key_share_bp
  FROM ok
  UNION ALL
  SELECT 'lineitem.l_orderkey', count(*),
         CAST(max(c) AS BIGINT),
         CAST(quantile_disc(c, 0.5) AS BIGINT),
         CAST(quantile_disc(c, 0.99) AS BIGINT),
         CAST(10000 * max(c) // sum(c) AS BIGINT)
  FROM lk)
SELECT * FROM prof
"""


@register("skew_profile_keys", oracle=_SKEW_PROFILE_ORACLE, tags=("A8", "ext"))
def skew_profile_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profiler — the diagnostic you run BEFORE picking
    a join strategy at 100 TB: per-key count distribution (median,
    p99, max, top-key share in basis points) for each candidate key.
    max/p50 >> 1 ⇒ salt or AQE-split that join; top_key_share_bp in
    the thousands ⇒ isolate the hot key. One aggregate per key column
    over only that column (pruned scan), then a discrete-percentile
    fold over the per-key counts — key-cardinality cost, no joins."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def profile(df: DataFrame, col: str, label: str) -> DataFrame:
        per_key = df.groupBy(F.col(col).alias("k")).agg(F.count(F.lit(1)).alias("c"))
        return per_key.agg(
            F.lit(label).alias("key_col"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("c").cast("long").alias("max_per_key"),
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY c)")
            .cast("long")
            .alias("p50_per_key"),
            F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY c)")
            .cast("long")
            .alias("p99_per_key"),
            F.expr("CAST(10000 * max(c) div sum(c) AS BIGINT)").alias(
                "top_key_share_bp"
            ),
        ).select(
            "key_col", "n_keys", "max_per_key", "p50_per_key", "p99_per_key",
            "top_key_share_bp",
        )

    return profile(orders, "o_custkey", "orders.o_custkey").unionByName(
        profile(li, "l_orderkey", "lineitem.l_orderkey")
    )


# --- L3 ext: ANN quality evaluation — recall@10 of IVF vs exact ---------

def recall_oracle(probe_below: int | None = None) -> str:
    """DuckDB oracle for ``ann_recall_at_k`` with an optional
    probe-panel bound (VERDICT r15 #2): the exact ground-truth arm is
    deliberately panel x corpus, and at decade fixtures an UNBOUNDED
    panel (every 25th vector of the whole decade) makes that product
    quadratic in corpus size — the one-box oracle's spill filled the
    device at sf3. Bounding the panel to replica 0 in BOTH arms keeps
    ground truth a full-corpus search per probe while the oracle's
    work stays linear in corpus. Default (None) reproduces the
    registered oracle exactly."""
    probe = f" AND vec_id < {probe_below}" if probe_below is not None else ""
    return f"""
WITH elems AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS v
  FROM embeddings
), cent_elems AS (
  SELECT label, pos,
         round(CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,7))) AS DOUBLE)
               / count(*), 6) AS c
  FROM elems GROUP BY label, pos
), centroids AS (
  SELECT label AS c_label, list(c ORDER BY pos) AS cv FROM cent_elems GROUP BY label
), probes AS (
  SELECT vec_id AS probe_id, embedding AS qv FROM embeddings
  WHERE vec_id % 25 = 0{probe}
), cellrank AS (
  SELECT p.probe_id, c.c_label,
         row_number() OVER (PARTITION BY p.probe_id
                            ORDER BY round({_duck_cosine('c.cv', 'p.qv')}, 6) DESC,
                            c.c_label) AS crn
  FROM centroids c, probes p
), probecells AS (
  SELECT probe_id, c_label FROM cellrank WHERE crn <= 3
), exact AS (
  SELECT probe_id, vec_id FROM (
    SELECT p.probe_id, e.vec_id,
           row_number() OVER (PARTITION BY p.probe_id
                              ORDER BY round({_duck_cosine('e.embedding', 'p.qv')}, 6)
                              DESC, e.vec_id) AS rn
    FROM embeddings e, probes p WHERE e.vec_id <> p.probe_id
  ) WHERE rn <= 10
), ivf AS (
  SELECT probe_id, vec_id FROM (
    SELECT pc.probe_id, e.vec_id,
           row_number() OVER (PARTITION BY pc.probe_id
                              ORDER BY round({_duck_cosine('e.embedding', 'p.qv')}, 6)
                              DESC, e.vec_id) AS rn
    FROM embeddings e
    JOIN probecells pc ON e.label = pc.c_label
    JOIN probes p ON p.probe_id = pc.probe_id
    WHERE e.vec_id <> pc.probe_id
  ) WHERE rn <= 10
)
SELECT x.probe_id, CAST(count(i.vec_id) AS BIGINT) AS recall_hits
FROM exact x LEFT JOIN ivf i
  ON x.probe_id = i.probe_id AND x.vec_id = i.vec_id
GROUP BY x.probe_id
"""


_RECALL_ORACLE = recall_oracle()


@register("ann_recall_at_k", oracle=_RECALL_ORACLE, tags=("L3", "L5", "ext"))
def ann_recall_at_k(
    spark: SparkSession, sf_dir: str, probe_below: int | None = None
) -> DataFrame:
    """ANN QUALITY EVALUATION — the measurement loop every
    approximate-index deployment runs before trusting it: for a probe
    panel (every 25th vector), compute exact brute-force top-10 AND
    IVF(nprobe=3) top-10 in the same job, and report per-probe
    recall@10 as an integer hit count. Recall is THE accept/reject
    metric for ANN indexes (a cell-probe count tuned on recall@k is
    how nlist/nprobe get chosen); computing it in-engine over the
    same plans that serve the queries means the eval measures exactly
    what production runs. Scale shape: probes broadcast (a panel is
    small by construction); the exact arm is panel x corpus — the
    intended cost of ground truth — and both arms' per-probe top-k
    ride one window each; the final recall join is probe-keyed and
    tiny. Exact oracle replicates both arms bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = centroids(emb, "label").withColumnRenamed("label", "c_label")
    # probe_below (decade-sweep knob, default None = every 25th vector
    # probes): bound the panel to replica 0 at decade fixtures so the
    # ground-truth product stays panel x corpus — linear in corpus —
    # in both arms, instead of growing quadratically with the decade
    # input (VERDICT r15 #2). The exact/IVF arms still search the
    # ENTIRE input per probe.
    panel = emb.filter(F.col("vec_id") % 25 == 0)
    if probe_below is not None:
        panel = panel.filter(F.col("vec_id") < probe_below)
    probes = F.broadcast(
        panel.select(
            F.col("vec_id").alias("probe_id"), F.col("embedding").alias("qv")
        )
    )
    w_probe = Window.partitionBy("probe_id")

    exact = (
        emb.crossJoin(probes)
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            F.round(cosine_similarity(F.col("embedding"), F.col("qv")), 6).alias("cos"),
        )
        .withColumn(
            "rn",
            F.row_number().over(w_probe.orderBy(F.col("cos").desc(), F.col("vec_id"))),
        )
        .filter(F.col("rn") <= 10)
        # Alias the key so the final exact-vs-ivf join compares two
        # UNAMBIGUOUS attributes; both arms descend from the same
        # broadcast `probes`, and an un-aliased probe_id == probe_id
        # self-join equality relies on dataset-id disambiguation that
        # could degenerate to a trivially-true predicate.
        .select(F.col("probe_id").alias("x_probe_id"), "vec_id")
    )
    cells = (
        cents.crossJoin(probes)
        .select(
            "probe_id",
            "c_label",
            F.round(cosine_similarity(F.col("cv"), F.col("qv")), 6).alias("ccos"),
        )
        .withColumn(
            "crn",
            F.row_number().over(
                w_probe.orderBy(F.col("ccos").desc(), F.col("c_label"))
            ),
        )
        .filter(F.col("crn") <= 3)
        .select("probe_id", "c_label")
    )
    ivf = (
        emb.join(F.broadcast(cells), emb.label == cells.c_label)
        .join(probes.select("probe_id", "qv"), "probe_id")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            F.round(cosine_similarity(F.col("embedding"), F.col("qv")), 6).alias("cos"),
        )
        .withColumn(
            "rn",
            F.row_number().over(w_probe.orderBy(F.col("cos").desc(), F.col("vec_id"))),
        )
        .filter(F.col("rn") <= 10)
        .select("probe_id", F.col("vec_id").alias("ivf_vec_id"))
    )
    return (
        exact.join(
            ivf,
            (F.col("x_probe_id") == F.col("probe_id"))
            & (F.col("vec_id") == F.col("ivf_vec_id")),
            "left",
        )
        .groupBy("x_probe_id")
        .agg(F.count("ivf_vec_id").cast("long").alias("recall_hits"))
        .select(F.col("x_probe_id").alias("probe_id"), "recall_hits")
    )
