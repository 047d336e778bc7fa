"""Iterative algorithm pattern (SURVEY §5.2: non-SQL-expressible →
rows-only): Lloyd's k-means refinement over the embedding corpus.

The loop state (k centroids, k ≤ 10) lives on the driver and is
re-broadcast each iteration — the data never leaves executors and is
re-scanned once per iteration. That is the canonical Spark shape for
iterative ML: O(iterations) scans, O(k·dim) driver state, nothing
quadratic, no row collection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gostream_spark.functions import centroids, cosine_similarity
from gostream_spark.io import load_table
from gostream_spark.registry import register


def _assign(emb: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment (broadcast k rows; rounding + id
    tiebreak keep it deterministic under any partitioning)."""
    cos = F.round(cosine_similarity(F.col("embedding"), F.col("cv")), 6)
    w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(), F.col("c_id"))
    return (
        emb.crossJoin(F.broadcast(centroids))
        .select("vec_id", "embedding", "c_id", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", "c_id")
    )


_KMEANS_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(count(DISTINCT label) AS BIGINT) AS n_seed_labels,
       CAST(1 AS BIGINT) AS partition_ok,
       CAST(1 AS BIGINT) AS clusters_ok
FROM embeddings
"""


@register("kmeans_refined_clusters", oracle=_KMEANS_ORACLE, tags=("L5", "ext"))
def kmeans_refined_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations from the per-label seed centroids.
    2-iteration k-means is not SQL-expressible at reasonable cost, so
    the GUARANTEE shape makes it exact-checkable: the row carries the
    exact corpus and seed-label counts plus verdicts for the Lloyd
    invariants that hold on ANY input — the final assignment is a
    PARTITION of the distinct (null-safe) vec_id keys (every key in
    exactly one cluster, checked over the real census; the assignment
    window collapses NULL ids into one key, so keys — not raw rows —
    are the identity the invariant quantifies over) and refinement
    never grows the cluster count past the seed count. Both verdicts
    are VACUOUSLY true when no seed row has a non-empty embedding
    (ADVICE r8): an all-malformed corpus yields zero centroids by
    construction, so there is no assignment to check — without the
    guard the literal-1 oracle would flag a correct no-op as a
    failure. Fixture-specific quality (mean within-cluster similarity
    beats the random baseline) stays pinned in
    tests/test_rows_only.py."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    seeds = load_table(spark, sf_dir, "embeddings")
    # Materialize the k <= 10 centroid rows each round (localCheckpoint
    # of a tiny table): without it the three _assign calls compound
    # into ONE lazy plan that re-executes every earlier iteration's
    # crossJoin+window inside each later one — the r10 cold audit put
    # this query at ~4 s warm, almost all of it replayed lineage.
    seed_vectors = seeds.select(F.col("label").alias("c_id"), "embedding")
    cents = centroids(seed_vectors, "c_id").localCheckpoint(eager=True)
    for _ in range(2):
        assigned = _assign(emb, cents)
        cents = centroids(assigned, "c_id").localCheckpoint(eager=True)
    # The final assignment feeds BOTH the census and the partition
    # stats; checkpoint it once so the crossJoin+window isn't executed
    # twice (separate DataFrame subtrees don't share work).
    final = _assign(emb, cents).localCheckpoint(eager=True)
    census = final.groupBy("c_id").agg(F.count(F.lit(1)).alias("n_members"))
    cstats = census.agg(
        F.coalesce(F.sum("n_members"), F.lit(0)).alias("assigned"),
        F.count(F.lit(1)).alias("n_clusters"),
    )
    # Null-safe distinct-key counts: countDistinct skips a NULL vec_id,
    # but the assignment window keeps it as one real key — without the
    # +isNull indicator a single NULL id would flip partition_ok on a
    # legal input (ADVICE r8).
    def _nskeys(col: str):
        return F.countDistinct(col) + F.coalesce(
            F.max(F.col(col).isNull().cast("long")), F.lit(0)
        )

    pstats = final.agg(
        F.count(F.lit(1)).alias("a_rows"), _nskeys("vec_id").alias("a_keys")
    )
    sstats = seeds.agg(
        F.count(F.lit(1)).alias("n_vectors"),
        _nskeys("vec_id").alias("n_keys"),
        F.countDistinct("label").alias("n_seed_labels"),
        # Seed GROUPS include a possible NULL-label group that
        # countDistinct excludes — the cluster-count bound is on groups.
        (
            F.countDistinct("label")
            + F.coalesce(F.max(F.col("label").isNull().cast("long")), F.lit(0))
        ).alias("n_seed_groups"),
        # Zero rows with a non-empty embedding => the seed centroids are
        # ZERO rows and the crossJoin assignment is empty by
        # construction — the partition/cluster verdicts are vacuous.
        F.coalesce(
            F.sum((F.size("embedding") > 0).cast("long")), F.lit(0)
        ).alias("n_seedable"),
    )
    return (
        sstats.crossJoin(F.broadcast(cstats))
        .crossJoin(F.broadcast(pstats))
        .select(
            "n_vectors",
            "n_seed_labels",
            (
                (F.col("n_seedable") == 0)
                | (
                    (F.col("a_rows") == F.col("n_keys"))
                    & (F.col("a_keys") == F.col("n_keys"))
                    & (F.col("assigned") == F.col("n_keys"))
                )
            )
            .cast("long")
            .alias("partition_ok"),
            (
                (F.col("n_clusters") <= F.col("n_seed_groups"))
                & (
                    (F.col("n_vectors") == 0)
                    | (F.col("n_seedable") == 0)
                    | (F.col("n_clusters") >= 1)
                )
            )
            .cast("long")
            .alias("clusters_ok"),
        )
    )
