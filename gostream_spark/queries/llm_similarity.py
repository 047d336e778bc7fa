"""Embedding-similarity and near-dup operators (SURVEY.md §2.8:
L2-L5) over the ``embeddings`` (64-dim float vectors) and
``documents`` fixtures.

Cross-engine determinism: every dot product / norm is a float64 fold
in array-element order (both engines cast float32 → float64 exactly,
then accumulate sequentially), rounded to 6 decimals only at the
output boundary. Cross-ROW float sums (centroid averaging) route
through DECIMAL so partition order can't shift the result.

Scale posture (the part that matters at 100 TB):
- Brute-force top-k (L3) broadcasts the QUERY vector — one scan of
  the corpus, per-partition top-k via TakeOrdered. Linear, shuffle-free.
- Pairwise joins (L2/L4) are quadratic by definition; here they run
  on an explicit subset and exist as the exact ORACLE for the
  LSH-bucketed scale path (`minhash_lsh_buckets`,
  `similarity_lsh_buckets`), which is the form to run at scale:
  candidates only form within a bucket, never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gostream_spark.functions import cosine_similarity
from gostream_spark.functions.sketches import (
    bottomk_sketch,
    minhash_band_table,
    minhash_khash_sig,
    trigram_shingles,
)
from gostream_spark.io import load_spread, load_table
from gostream_spark.operators import topk_per_group, topk_ranked
from gostream_spark.registry import register

# DuckDB twins of functions.dot_product / l2_norm (float64, in order).
_DUCK_DOT = (
    "list_aggregate(list_transform(list_zip({a}, {b}), "
    "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')"
)
_DUCK_NORM = (
    "sqrt(list_aggregate(list_transform({a}, "
    "v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum'))"
)


def _duck_cosine(a: str, b: str) -> str:
    return (
        f"({_DUCK_DOT.format(a=a, b=b)} / "
        f"({_DUCK_NORM.format(a=a)} * {_DUCK_NORM.format(a=b)}))"
    )


# --- L3 top-k cosine search --------------------------------------------

_L3_ORACLE = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label, cos, rn FROM (
  SELECT e.vec_id, e.label,
         round({_duck_cosine('e.embedding', 'q.qv')}, 6) AS cos,
         row_number() OVER (ORDER BY round({_duck_cosine('e.embedding', 'q.qv')}, 6) DESC,
                            e.vec_id) AS rn
  FROM embeddings e, q
  WHERE e.vec_id <> 0
) WHERE rn <= 10
"""


@register("similarity_topk", oracle=_L3_ORACLE, tags=("L3",), bench=True)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: brute-force top-10 cosine neighbors of one query vector.
    The query vector is a 1-row broadcast; the corpus is scanned once
    with a row-local fold — linear and shuffle-free, the exact
    baseline every ANN variant is judged against."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    )
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .select(
            "vec_id",
            "label",
            F.round(cosine_similarity(F.col("embedding"), F.col("qv")), 6).alias("cos"),
        )
    )
    return topk_ranked(scored, 10, F.col("cos").desc(), F.col("vec_id"))


# --- L4 pairwise similarity join ---------------------------------------

_L4_ORACLE = f"""
WITH sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0)
SELECT vec_a, vec_b, cos, rn FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round({_duck_cosine('a.embedding', 'b.embedding')}, 6) AS cos,
         row_number() OVER (ORDER BY round({_duck_cosine('a.embedding', 'b.embedding')}, 6)
                            DESC, a.vec_id, b.vec_id) AS rn
  FROM sub a JOIN sub b ON a.vec_id < b.vec_id
  WHERE {_duck_cosine('a.embedding', 'b.embedding')} >= 0.15
) WHERE rn <= 20
"""


@register("similarity_pairs", oracle=_L4_ORACLE, tags=("L4",))
def similarity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: pairwise similarity join — top-20 most-similar pairs above
    a 0.15 cosine floor, over an explicit 1-in-10 subset. This is the
    EXACT form (quadratic in the subset); at corpus scale the same
    semantics run through `similarity_lsh_buckets` so candidates pair
    only within hash buckets."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 10 == 0)
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    cos = cosine_similarity(F.col("ea"), F.col("eb"))
    pairs = (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .filter(cos >= 0.15)
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cos"))
    )
    return topk_ranked(
        pairs, 20, F.col("cos").desc(), F.col("vec_a"), F.col("vec_b")
    )


# --- L5 nearest-centroid assignment ------------------------------------

_L5_ORACLE = f"""
WITH elems AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos,
         unnest(embedding) AS v
  FROM embeddings
), cent_elems AS (
  SELECT label, pos,
         round(CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,7))) AS DOUBLE)
               / count(*), 6) AS c
  FROM elems GROUP BY label, pos
), centroids AS (
  SELECT label AS c_label, list(c ORDER BY pos) AS cv FROM cent_elems GROUP BY label
), scored AS (
  SELECT e.vec_id, e.label,
         c.c_label,
         round({_duck_cosine('e.embedding', 'c.cv')}, 6) AS cos,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY round({_duck_cosine('e.embedding', 'c.cv')}, 6) DESC,
                            c.c_label) AS rn
  FROM embeddings e CROSS JOIN centroids c
)
SELECT vec_id, label, c_label AS pred_label, cos,
       label = c_label AS correct
FROM scored WHERE rn = 1
"""


@register("nearest_centroid", oracle=_L5_ORACLE, tags=("L5",))
def nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5: nearest-centroid assignment. Centroids = per-label element
    averages (cross-row sums routed through DECIMAL so partition order
    can't move a bit, then rounded); the 10-row centroid table
    broadcasts and each vector scores against all centroids row-
    locally — a linear scan at any corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    elems = emb.select(
        "label", F.posexplode("embedding").alias("pos0", "v")
    ).select("label", (F.col("pos0") + 1).alias("pos"), "v")
    cent_elems = elems.groupBy("label", "pos").agg(
        F.round(
            F.sum(F.col("v").cast("double").cast("decimal(18,7)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("c")
    )
    centroids = cent_elems.groupBy(F.col("label").alias("c_label")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda x: x["c"]
        ).alias("cv")
    )
    cos = F.round(cosine_similarity(F.col("embedding"), F.col("cv")), 6)
    w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(), F.col("c_label"))
    return (
        emb.crossJoin(F.broadcast(centroids))
        .select("vec_id", "label", "c_label", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "label",
            F.col("c_label").alias("pred_label"),
            "cos",
            (F.col("label") == F.col("c_label")).alias("correct"),
        )
    )


# --- L2 near-dup: exact shingle-Jaccard (oracle form) -------------------

_L2_ORACLE = """
WITH sub AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id % 5 = 0
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(toks) - 1),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
           AS shingle
  FROM sub WHERE len(toks) >= 3
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter_cnt
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, inter_cnt, jaccard, rn FROM (
  SELECT i.doc_a, i.doc_b, i.inter_cnt,
         round(CAST(i.inter_cnt AS DOUBLE)
               / (sa.n_sh + sb.n_sh - i.inter_cnt), 6) AS jaccard,
         row_number() OVER (ORDER BY round(CAST(i.inter_cnt AS DOUBLE)
                                           / (sa.n_sh + sb.n_sh - i.inter_cnt), 6) DESC,
                            i.doc_a, i.doc_b) AS rn
  FROM inter i
  JOIN sizes sa ON i.doc_a = sa.doc_id
  JOIN sizes sb ON i.doc_b = sb.doc_id
) WHERE rn <= 10
"""


@register("neardup_jaccard_pairs", oracle=_L2_ORACLE, tags=("L2",), bench=True)
def neardup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2: near-dup detection — top-10 document pairs by 3-gram
    shingle Jaccard over a 1-in-5 subset. Candidates form only through
    the shared-shingle join (pairs with zero overlap never
    materialize); at 100 TB the candidate generation moves to MinHash
    banding (`minhash_lsh_buckets`) so hot shingles can't explode the
    join."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0)
    n = F.size(F.split("text", " "))
    shingles = trigram_shingles(F.col("text"))
    # r16 (guide §2.4): carry each doc's distinct-shingle count THROUGH
    # the join instead of re-deriving it in separate per-side size
    # aggregates. The old plan computed the shingle pipeline FOUR times
    # (two join arms + the sa/sb size subtrees) and joined the sizes
    # back on each pair side; n_sh is constant per doc, so max() inside
    # the pair aggregate recovers it for free — 4 pipeline passes +
    # 2 joins -> 2 passes + 0 joins. The distinct array materializes in
    # its OWN projection and the generator is explode_outer: explode's
    # inferred size(..)>0 predicate alias-substitutes the whole shingle
    # expression into a pushed Filter (measured 7x regression when
    # size() and explode share an inline expression). Measured
    # interleaved at sf0.1: 0.89 -> 0.81 s min; pairs identical.
    base = docs.filter(n >= 3).select(
        "doc_id", F.array_distinct(shingles).alias("ds")
    )
    sh = (
        base.select(
            "doc_id",
            F.coalesce(F.size("ds"), F.lit(0)).cast("long").alias("n_sh"),
            F.explode_outer("ds").alias("shingle"),
        )
        .filter(F.col("shingle").isNotNull())
    )
    a = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"), "shingle"
    )
    b = sh.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n_sh").alias("n_b"),
        F.col("shingle").alias("shingle_b"),
    )
    inter = (
        a.join(b, (F.col("shingle") == F.col("shingle_b")) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("inter_cnt"),
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
        )
    )
    jac = F.round(
        F.col("inter_cnt").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("inter_cnt")),
        6,
    )
    scored = inter.select("doc_a", "doc_b", "inter_cnt", jac.alias("jaccard"))
    return topk_ranked(
        scored,
        10,
        F.col("jaccard").desc(),
        F.col("doc_a"),
        F.col("doc_b"),
    )


# --- L2/L4 scale path: MinHash banding (rows-only) ----------------------


def _minhash_sig(sh_col: Column, i: int) -> Column:
    """One minhash component: min over shingles of a seeded xxhash64.
    xxhash64 is Spark-internal (not DuckDB-reproducible), hence the
    rows-only check — the exact-Jaccard twin above is the oracle."""
    return F.array_min(
        F.transform(sh_col, lambda s: F.xxhash64(F.concat(s, F.lit(f"#{i}"))))
    )


_MINHASH_LSH_ORACLE = """
WITH d AS (SELECT string_split(text, ' ') AS tk FROM documents),
d3 AS (
  SELECT list_sort(list_distinct(
           list_transform(range(1, len(tk) - 1),
                          i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS key
  FROM d WHERE len(tk) >= 3),
s AS (SELECT count(*) AS n_docs, count(DISTINCT key) AS n_sigsets FROM d3)
SELECT CAST(b.range AS BIGINT) AS band_id,
       CAST(s.n_docs AS BIGINT) AS n_docs,
       CAST(s.n_sigsets AS BIGINT) AS n_sigsets,
       CAST(1 AS BIGINT) AS mass_ok,
       CAST(1 AS BIGINT) AS dup_consistent,
       CAST(1 AS BIGINT) AS buckets_le_sigsets
FROM range(0, 4) b, s
"""


@register("minhash_lsh_buckets", oracle=_MINHASH_LSH_ORACLE, tags=("L2", "L4"))
def minhash_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 scale path: MinHash(k=8) → 4 bands of 2 rows → per-band
    bucket statistics. Near-dup candidates at 100 TB come from
    equal (band, band_hash) buckets — a hash-partitioned groupBy, so
    cost is linear in corpus size plus the (tiny) intra-bucket
    verification joins; all-pairs never materializes.

    xxhash64 has no DuckDB twin, so the GUARANTEE shape makes this
    exact-checkable: per band, the row carries the exact doc and
    distinct-shingle-set counts plus verdicts for the three LSH
    invariants that hold on ANY input — every doc lands in exactly
    one bucket per band (mass conservation over the real bucket
    histogram), identical shingle sets hash to identical buckets in
    every band (the no-false-negative half of exact-dup recall), and
    the bucket count never exceeds the signature-set count."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(F.split("text", " "))
    shingles = F.array_distinct(trigram_shingles(F.col("text")))
    with_sh = docs.filter(n >= 3).select("doc_id", shingles.alias("sh"))
    # to_json key, not an ad-hoc separator join: a shingle may legally
    # contain any byte a token can, so JSON escaping is the only
    # collision-proof string encoding of the set (ADVICE r8); the
    # oracle counts DISTINCT on the sorted list value itself.
    sig = with_sh.select(
        "doc_id",
        F.to_json(F.array_sort("sh")).alias("key"),
        *[_minhash_sig(F.col("sh"), i).alias(f"mh{i}") for i in range(8)],
    )
    bands = sig.select(
        "doc_id",
        "key",
        *[
            F.xxhash64(F.col(f"mh{2 * b}"), F.col(f"mh{2 * b + 1}")).alias(f"band{b}")
            for b in range(4)
        ],
    )
    stacked = bands.selectExpr(
        "key",
        "stack(4, CAST(0 AS BIGINT), band0, CAST(1 AS BIGINT), band1, "
        "CAST(2 AS BIGINT), band2, CAST(3 AS BIGINT), band3) AS (band_id, band_hash)",
    )
    # The real bucket histogram (what candidate generation consumes).
    buckets = stacked.groupBy("band_id", "band_hash").agg(
        F.count(F.lit(1)).alias("bucket_size")
    )
    hist = buckets.groupBy("band_id").agg(
        F.sum("bucket_size").alias("bucketed_docs"),
        F.count(F.lit(1)).alias("n_buckets"),
    )
    # Per (band, shingle-set): distinct bucket hashes must be exactly 1.
    consist = (
        stacked.groupBy("band_id", "key")
        .agg(F.countDistinct("band_hash").alias("nh"))
        .groupBy("band_id")
        .agg(
            F.max("nh").alias("max_nh"),
            F.count(F.lit(1)).alias("n_sigsets"),
            F.sum("nh").alias("sum_nh"),
        )
    )
    n_docs = with_sh.agg(F.count(F.lit(1)).alias("n_docs"))
    # Left-join from a fixed 4-row band frame so an EMPTY corpus still
    # yields one (vacuously-true) row per band, like the oracle.
    base = spark.range(4).select(F.col("id").alias("band_id"))
    return (
        base.join(hist, "band_id", "left")
        .join(consist, "band_id", "left")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "band_id",
            "n_docs",
            F.coalesce("n_sigsets", F.lit(0)).alias("n_sigsets"),
            (F.coalesce("bucketed_docs", F.lit(0)) == F.col("n_docs"))
            .cast("long")
            .alias("mass_ok"),
            (F.coalesce("max_nh", F.lit(1)) == 1).cast("long").alias("dup_consistent"),
            (F.coalesce("n_buckets", F.lit(0)) <= F.coalesce("n_sigsets", F.lit(0)))
            .cast("long")
            .alias("buckets_le_sigsets"),
        )
    )


# --- L2/L4 scale path, exact twin: md5 MinHash banding ------------------

_MINHASH_MD5_ORACLE = """
WITH sub AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(toks) - 1),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
           AS shingle
  FROM sub WHERE len(toks) >= 3
), sig AS (
  SELECT doc_id,
         min(substr(md5(shingle || '#0'), 1, 15)) AS mh0,
         min(substr(md5(shingle || '#1'), 1, 15)) AS mh1,
         min(substr(md5(shingle || '#2'), 1, 15)) AS mh2,
         min(substr(md5(shingle || '#3'), 1, 15)) AS mh3,
         min(substr(md5(shingle || '#4'), 1, 15)) AS mh4,
         min(substr(md5(shingle || '#5'), 1, 15)) AS mh5,
         min(substr(md5(shingle || '#6'), 1, 15)) AS mh6,
         min(substr(md5(shingle || '#7'), 1, 15)) AS mh7
  FROM sh GROUP BY doc_id
), bands AS (
  SELECT 0 AS band_id, md5(mh0 || mh1) AS band_hash FROM sig
  UNION ALL SELECT 1, md5(mh2 || mh3) FROM sig
  UNION ALL SELECT 2, md5(mh4 || mh5) FROM sig
  UNION ALL SELECT 3, md5(mh6 || mh7) FROM sig
), buckets AS (
  SELECT band_id, band_hash, count(*) AS bucket_size
  FROM bands GROUP BY band_id, band_hash
)
SELECT band_id,
       count(*) AS n_buckets,
       max(bucket_size) AS max_bucket,
       CAST(sum(bucket_size * (bucket_size - 1) / 2) AS BIGINT) AS candidate_pairs
FROM buckets GROUP BY band_id
"""


def _bucket_stats(bands: DataFrame) -> DataFrame:
    """Per-band LSH bucket statistics of a band table: bucket count,
    largest bucket and candidate pairs (sum of C(size, 2))."""
    buckets = bands.groupBy("band_id", "band_hash").agg(
        F.count(F.lit(1)).alias("bucket_size")
    )
    return buckets.groupBy("band_id").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("bucket_size").alias("max_bucket"),
        F.sum(
            (F.col("bucket_size") * (F.col("bucket_size") - 1) / 2).cast("bigint")
        ).alias("candidate_pairs"),
    )


@register("minhash_md5_bands", oracle=_MINHASH_MD5_ORACLE, tags=("L2", "L4", "F7"))
def minhash_md5_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2/L4 exact twin of `minhash_lsh_buckets`: MinHash(k=8) from
    md5-derived hashes → 4 bands of 2 rows → per-band bucket stats,
    hash-checked against a DuckDB oracle computing the identical
    signature. Same 100 TB shape as the xxhash64 variant — candidate
    pairs come from equal (band, band_hash) buckets via a
    hash-partitioned groupBy, never an all-pairs join; md5 costs a
    little more per shingle but buys cross-engine verifiability."""
    docs = load_spread(spark, sf_dir)
    return _bucket_stats(minhash_band_table(docs, minhash_khash_sig))


_MINHASH_BOTTOMK_ORACLE = """
WITH sub AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(toks) - 1),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
           AS shingle
  FROM sub WHERE len(toks) >= 3
), mins AS (
  SELECT doc_id,
         list_slice(list_sort(list(substr(md5(shingle), 1, 15))), 1, 8) AS m
  FROM sh GROUP BY doc_id HAVING count(*) >= 8
), bands AS (
  SELECT 0 AS band_id, md5(m[1] || m[2]) AS band_hash FROM mins
  UNION ALL SELECT 1, md5(m[3] || m[4]) FROM mins
  UNION ALL SELECT 2, md5(m[5] || m[6]) FROM mins
  UNION ALL SELECT 3, md5(m[7] || m[8]) FROM mins
), buckets AS (
  SELECT band_id, band_hash, count(*) AS bucket_size
  FROM bands GROUP BY band_id, band_hash
)
SELECT band_id,
       count(*) AS n_buckets,
       max(bucket_size) AS max_bucket,
       CAST(sum(bucket_size * (bucket_size - 1) / 2) AS BIGINT) AS candidate_pairs
FROM buckets GROUP BY band_id
"""


@register(
    "minhash_bottomk_bands",
    oracle=_MINHASH_BOTTOMK_ORACLE,
    tags=("L2", "L4", "F7"),
    bench=True,
)
def minhash_bottomk_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2/L4 one-pass variant of `minhash_md5_bands`: bottom-k MinHash
    (one-permutation hashing / KMV sketch). Each shingle is hashed
    ONCE (md5, first 15 hex digits); the signature is the 8 smallest
    hash values, banded 2-per-band into 4 LSH bands. Same banding
    math and bucket statistics as the k-independent-hashes twin, at
    1/8 the hash work — the difference at 100 TB is one md5 pass over
    the corpus instead of eight, with the same shuffle shape (one
    hash-partitioned groupBy on (band, band_hash); no join anywhere
    in candidate generation). Docs with < 8 distinct shingles are
    excluded (their bottom-8 sketch is undefined)."""
    docs = load_spread(spark, sf_dir)
    return _bucket_stats(minhash_band_table(docs, bottomk_sketch))


_SIM_LSH_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(1 AS BIGINT) AS mass_ok,
       CAST(1 AS BIGINT) AS range_ok,
       CAST(1 AS BIGINT) AS identical_same_bucket,
       CAST(1 AS BIGINT) AS null_bucket_iff_malformed
FROM embeddings
"""


@register("similarity_lsh_buckets", oracle=_SIM_LSH_ORACLE, tags=("L3", "L4"))
def similarity_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3/L4 scale path: random-hyperplane (SimHash-style) LSH for
    cosine similarity — 16 fixed pseudo-random hyperplanes (seeded by
    dimension index, so fully deterministic and shippable to every
    executor as literals), each vector → 16-bit signature; bucket by
    the first 8 bits. ANN queries then probe only matching buckets
    (plus Hamming-1 neighbors for recall) instead of the full corpus.

    The signature depends on Spark-evaluated float folds (no
    cross-engine surface), so the GUARANTEE shape makes this
    exact-checkable: the row carries the exact vector count plus
    verdicts for the bucketing invariants that hold on ANY input —
    the bucket histogram accounts for every vector exactly once, all
    bucket ids sit in [0, 255], identical embeddings land in the
    same bucket (the determinism half of LSH recall), and a bucket is
    NULL exactly when the embedding is malformed (NULL/empty/contains
    NULL) — the silent-degradation mode the other three are blind to."""
    emb = load_table(spark, sf_dir, "embeddings")
    # Deterministic "random" hyperplane component for (plane p, dim d):
    # sign of sin(p * 64 + d) — fixed, identical on every executor.
    # The plane vector is built at the embedding's OWN length (r8
    # degenerate-probe find: a hardcoded 64-dim plane zip_with-pads
    # shorter vectors with NULLs and every bucket silently degrades
    # to NULL).
    def plane_bit(p: int) -> Column:
        signed = F.aggregate(
            F.zip_with(
                F.col("embedding"),
                F.transform(
                    F.sequence(F.lit(0), F.size("embedding") - 1),
                    lambda d: F.signum(F.sin(d + F.lit(p * 64))),
                ),
                lambda x, s: x.cast("double") * s,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return (signed > 0).cast("int")

    sig = emb.select(
        "vec_id",
        "embedding",
        sum(
            [plane_bit(p) * F.lit(2**p) for p in range(8)],
            F.lit(0),
        ).alias("bucket"),
    )
    hist = (
        sig.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .agg(
            F.coalesce(F.sum("bucket_size"), F.lit(0)).alias("bucketed"),
            F.coalesce(F.min("bucket"), F.lit(0)).alias("min_bucket"),
            F.coalesce(F.max("bucket"), F.lit(0)).alias("max_bucket"),
        )
    )
    # Identical embeddings must be co-bucketed: max distinct buckets
    # over embedding-equality groups is 1 (vacuously 1 when empty).
    grp = (
        sig.groupBy("embedding")
        # coalesce before counting: countDistinct skips NULLs, so an
        # all-NULL bucket group would count 0 and read as vacuously
        # consistent-and-violated at once; map NULL to a sentinel so
        # it participates in the distinctness check like any value.
        .agg(F.countDistinct(F.coalesce("bucket", F.lit(-1))).alias("nb"))
        .agg(F.coalesce(F.max("nb"), F.lit(1)).alias("max_nb"))
    )
    # min/max skip NULL and the histogram counts a NULL-bucket group
    # like any other, so the three verdicts above are blind to a
    # bucket that silently degraded to NULL (the exact r8 probe
    # failure mode). Pin it directly: a bucket is NULL iff the
    # embedding is malformed (NULL array, empty, or containing a
    # NULL element) — min over rows, vacuously 1 on empty input.
    well_formed = (
        F.col("embedding").isNotNull()
        & (F.size("embedding") > 0)
        & ~F.exists("embedding", lambda x: x.isNull())
    )
    nullness = sig.agg(
        F.coalesce(
            F.min((F.col("bucket").isNull() == ~well_formed).cast("long")),
            F.lit(1),
        ).alias("null_bucket_iff_malformed")
    )
    n_vec = emb.agg(F.count(F.lit(1)).alias("n_vectors"))
    return (
        n_vec.crossJoin(F.broadcast(hist))
        .crossJoin(F.broadcast(grp))
        .crossJoin(F.broadcast(nullness))
        .select(
            "n_vectors",
            (F.col("bucketed") == F.col("n_vectors")).cast("long").alias("mass_ok"),
            ((F.col("min_bucket") >= 0) & (F.col("max_bucket") <= 255))
            .cast("long")
            .alias("range_ok"),
            (F.col("max_nb") == 1).cast("long").alias("identical_same_bucket"),
            "null_bucket_iff_malformed",
        )
    )


# --- L3/L4: batch k-NN join (query SET x corpus) ------------------------

_KNN_JOIN_ORACLE = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
           WHERE vec_id < 10),
c AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10)
SELECT query_id, vec_id, cos, rn FROM (
  SELECT q.query_id, c.vec_id,
         round({_duck_cosine('c.embedding', 'q.qv')}, 6) AS cos,
         row_number() OVER (
           PARTITION BY q.query_id
           ORDER BY round({_duck_cosine('c.embedding', 'q.qv')}, 6) DESC,
                    c.vec_id) AS rn
  FROM c, q
) WHERE rn <= 3
"""


@register("knn_join", oracle=_KNN_JOIN_ORACLE, tags=("L3", "L4", "ext"))
def knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3/L4 batch form: k-NN JOIN — top-3 corpus neighbors for EACH
    of a query set (the retrieval-index build / dedup-against-seed
    shape, vs `similarity_topk`'s single query). The query set
    broadcasts (query batches are small relative to a 100 TB corpus);
    the corpus is scanned ONCE, each row scored against all broadcast
    queries map-side, and the per-query top-k reduces via
    `topk_per_group` — one shuffle on query_id, never a corpus
    self-join. Corpus-side growth is linear; query-side growth adds
    map-side work only."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
    )
    scored = (
        emb.filter(F.col("vec_id") >= 10)
        .crossJoin(q)
        .select(
            "query_id",
            "vec_id",
            F.round(cosine_similarity(F.col("embedding"), F.col("qv")), 6).alias("cos"),
        )
    )
    return topk_per_group(
        scored, 3, ["query_id"], [F.col("cos").desc(), F.col("vec_id")]
    )


# --- L5/F5 ext: per-dimension min-max normalization ---------------------

_MINMAX_ORACLE = """
WITH elems AS (
  SELECT vec_id, label, unnest(embedding) AS v,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings),
stats AS (
  SELECT pos, min(CAST(v AS DOUBLE)) AS mn, max(CAST(v AS DOUBLE)) AS mx
  FROM elems GROUP BY pos),
norm AS (
  SELECT e.vec_id, e.label,
         (CAST(e.v AS DOUBLE) - s.mn) / (s.mx - s.mn) AS nv
  FROM elems e JOIN stats s USING (pos))
SELECT vec_id, label,
       CAST(round(sum(CAST(round(nv, 6) AS DECIMAL(18,6))), 6) AS DOUBLE) AS norm_sum,
       round(min(nv), 6) AS norm_min,
       round(max(nv), 6) AS norm_max
FROM norm GROUP BY vec_id, label
"""


@register("embedding_minmax_normalize", oracle=_MINMAX_ORACLE, tags=("L5", "F5", "ext"))
def embedding_minmax_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature scaling for the vector column: per-DIMENSION min-max
    over the corpus (one explode + 64-group aggregate — the stats fit
    in a closed fist and broadcast), then a row-local rescale of every
    vector. The output checksums (sum/min/max of the normalized
    elements, round-6) prove the rescaled VALUES match cross-engine.
    This is the normalize-before-index stage of an ANN build: skipping
    it lets one high-variance dimension dominate every distance."""
    emb = load_table(spark, sf_dir, "embeddings")
    elems = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "v")
    ).select("vec_id", "label", "pos", F.col("v").cast("double").alias("v"))
    stats = elems.groupBy("pos").agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    )
    norm = elems.join(F.broadcast(stats), "pos").select(
        "vec_id", "label", ((F.col("v") - F.col("mn")) / (F.col("mx") - F.col("mn"))).alias("nv")
    )
    # Decimal-routed sum: 64 doubles would sum in partition order —
    # round each term first so the total is order-proof cross-engine.
    return norm.groupBy("vec_id", "label").agg(
        F.round(F.sum(F.round("nv", 6).cast("decimal(18,6)")), 6)
        .cast("double")
        .alias("norm_sum"),
        F.round(F.min("nv"), 6).alias("norm_min"),
        F.round(F.max("nv"), 6).alias("norm_max"),
    )


# --- L5 analytics: centroid-pair separation matrix ----------------------

_CENTROID_SEP_ORACLE = f"""
WITH elems AS (
  SELECT label, generate_subscripts(embedding, 1) AS pos,
         unnest(embedding) AS v
  FROM embeddings
), cent_elems AS (
  SELECT label, pos,
         round(CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,7))) AS DOUBLE)
               / count(*), 6) AS c
  FROM elems GROUP BY label, pos
), centroids AS (
  SELECT label, list(c ORDER BY pos) AS cv FROM cent_elems GROUP BY label
)
SELECT a.label AS label_a, b.label AS label_b,
       round({_duck_cosine('a.cv', 'b.cv')}, 6) AS centroid_cos
FROM centroids a JOIN centroids b ON a.label < b.label
"""


@register("embedding_centroid_separation", oracle=_CENTROID_SEP_ORACLE, tags=("L5", "ext"))
def embedding_centroid_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 analytics: the label-pair centroid cosine matrix — the
    cluster-separation diagnostic read before trusting
    nearest-centroid routing or IVF probes (two labels whose
    centroids are near-parallel will cross-assign). Centroids follow
    the DECIMAL-sum discipline of `nearest_centroid`; the pair join
    runs over the label-cardinality centroid table (tiny at any
    corpus size — the corpus itself contributes only one aggregation
    pass), so the quadratic term is labels^2, never vectors^2."""
    emb = load_table(spark, sf_dir, "embeddings")
    elems = emb.select(
        "label", F.posexplode("embedding").alias("pos0", "v")
    ).select("label", (F.col("pos0") + 1).alias("pos"), "v")
    cent_elems = elems.groupBy("label", "pos").agg(
        F.round(
            F.sum(F.col("v").cast("double").cast("decimal(18,7)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("c")
    )
    centroids = cent_elems.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda x: x["c"]
        ).alias("cv")
    )
    a = centroids.select(F.col("label").alias("label_a"), F.col("cv").alias("cv_a"))
    b = centroids.select(F.col("label").alias("label_b"), F.col("cv").alias("cv_b"))
    return (
        a.join(b, F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            F.round(cosine_similarity(F.col("cv_a"), F.col("cv_b")), 6).alias(
                "centroid_cos"
            ),
        )
    )


# --- L3 ext: MMR diversified re-ranking ---------------------------------

# Selection math is INTEGER-exact: relevance and pairwise sims quantize
# to micro-units (round(cos*1e6) -> BIGINT), and lambda=0.7 scales
# through as mmr_u = 7*rel_u - 3*max_sim_u — no float ever enters the
# argmax, so the greedy selection sequence is bit-identical on both
# engines. The oracle unrolls the 3-step greedy loop as CTE layers.
_MMR_ORACLE = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id, e.embedding,
         CAST(round({_duck_cosine('e.embedding', 'q.qv')} * 1000000) AS BIGINT)
           AS rel_u
  FROM embeddings e, q WHERE e.vec_id <> 0),
cand AS (
  SELECT vec_id, embedding, rel_u FROM (
    SELECT vec_id, embedding, rel_u,
           row_number() OVER (ORDER BY rel_u DESC, vec_id) AS rn
    FROM scored WHERE rel_u IS NOT NULL)
  WHERE rn <= 12),
s1 AS (SELECT vec_id, embedding, rel_u, rel_u * 7 AS mmr_u
       FROM cand ORDER BY rel_u DESC, vec_id LIMIT 1),
pair2 AS (
  SELECT c.vec_id, c.rel_u,
         CAST(round({_duck_cosine('c.embedding', 's.embedding')} * 1000000)
              AS BIGINT) AS sim_u
  FROM cand c JOIN s1 s ON c.vec_id <> s.vec_id),
p2 AS (SELECT vec_id, max(rel_u) AS rel_u,
              7 * max(rel_u) - 3 * max(sim_u) AS mmr_u
       FROM pair2 GROUP BY vec_id),
s2 AS (SELECT p.vec_id, c.embedding, p.rel_u, p.mmr_u
       FROM p2 p JOIN cand c USING (vec_id)
       ORDER BY p.mmr_u DESC, p.vec_id LIMIT 1),
pair3 AS (
  SELECT c.vec_id, c.rel_u,
         CAST(round({_duck_cosine('c.embedding', 's.embedding')} * 1000000)
              AS BIGINT) AS sim_u
  FROM cand c
  JOIN (SELECT vec_id, embedding FROM s1
        UNION ALL SELECT vec_id, embedding FROM s2) s
    ON c.vec_id <> s.vec_id
  WHERE c.vec_id NOT IN (SELECT vec_id FROM s1)
    AND c.vec_id NOT IN (SELECT vec_id FROM s2)),
p3 AS (SELECT vec_id, max(rel_u) AS rel_u,
              7 * max(rel_u) - 3 * max(sim_u) AS mmr_u
       FROM pair3 GROUP BY vec_id),
s3 AS (SELECT vec_id, rel_u, mmr_u FROM p3 ORDER BY mmr_u DESC, vec_id LIMIT 1)
SELECT CAST(1 AS BIGINT) AS sel_rank, vec_id, rel_u, mmr_u FROM s1
UNION ALL SELECT CAST(2 AS BIGINT), vec_id, rel_u, mmr_u FROM s2
UNION ALL SELECT CAST(3 AS BIGINT), vec_id, rel_u, mmr_u FROM s3
"""


def _mmr_select(pdf):
    """Greedy MMR over one query's candidate pool (pure-Python float64
    folds in array order — the same sequential accumulation contract
    as functions.dot_product / the DuckDB oracle)."""
    import math

    import pandas as pd

    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += float(x) * float(y)
        return s

    def round_half_up(x):
        # Match F.round / DuckDB round (half AWAY from zero) — Python's
        # built-in round() is banker's (half-to-even), which would break
        # the bit-identical cross-engine selection sequence on a cosine
        # landing exactly on .5 micro-units.
        return math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)

    emb = {int(r.vec_id): list(r.embedding) for r in pdf.itertuples()}
    rel = {int(r.vec_id): int(r.rel_u) for r in pdf.itertuples()}
    norm = {v: math.sqrt(dot(e, e)) for v, e in emb.items()}
    remaining = sorted(emb)
    selected: list[int] = []
    out = []
    for step in range(3):
        if not remaining:
            # pool smaller than the selection budget (degenerate
            # corpora) — emit what exists, like the oracle's empty
            # LIMIT 1 layers
            break
        best = None
        for v in remaining:
            if not selected:
                mmr = 7 * rel[v]
            else:
                mx = max(
                    int(round_half_up(dot(emb[v], emb[s]) / (norm[v] * norm[s]) * 1_000_000))
                    for s in selected
                )
                mmr = 7 * rel[v] - 3 * mx
            if best is None or mmr > best[0]:
                best = (mmr, v)
        mmr_u, v = best
        selected.append(v)
        remaining.remove(v)
        out.append((step + 1, v, rel[v], mmr_u))
    return pd.DataFrame(out, columns=["sel_rank", "vec_id", "rel_u", "mmr_u"])


@register("mmr_diversified_topk", oracle=_MMR_ORACLE, tags=("L3", "U1", "ext"))
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 ext: MAXIMAL MARGINAL RELEVANCE re-ranking — the standard
    diversification pass RAG retrieval runs after top-k: greedily pick
    argmax of 0.7*relevance - 0.3*max_sim_to_already_picked, 3 rounds
    over a 12-candidate pool. Two-stage Spark shape: (1) the candidate
    pool comes from the scale-safe brute-force top-k (TakeOrdered —
    never a global window); (2) the O(k·n) greedy loop runs inside ONE
    applyInPandas group per query — with thousands of concurrent
    queries each group re-ranks independently in parallel, which is
    exactly how a rerank stage shards at serving scale. Selection
    arithmetic is integer micro-units throughout (7*rel_u - 3*sim_u,
    lambda=0.7 cleared of floats), so the greedy sequence — not just
    the scores — is engine-exact; ties break on vec_id by iteration
    order (strict > keeps the earlier, smaller id)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    )
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .select(
            "vec_id",
            "embedding",
            F.round(cosine_similarity(F.col("embedding"), F.col("qv")) * 1_000_000)
            .cast("bigint")
            .alias("rel_u"),
        )
    )
    # zero-norm embeddings score NULL relevance (cosine undefined) and
    # are not retrievable — drop them BEFORE the pool on both engines,
    # or the greedy loop would divide by their zero norm
    pool = topk_ranked(
        scored.filter(F.col("rel_u").isNotNull()),
        12,
        F.col("rel_u").desc(),
        F.col("vec_id"),
    ).select(F.lit(0).alias("query_id"), "vec_id", "embedding", "rel_u")
    out = pool.groupBy("query_id").applyInPandas(
        _mmr_select, schema="sel_rank long, vec_id long, rel_u long, mmr_u long"
    )
    return out


# --- L2 near-dup: containment / overlap coefficient ---------------------

_CONTAIN_ORACLE = """
WITH sub AS (
  SELECT doc_id, string_split(text, ' ') AS toks
  FROM documents WHERE doc_id % 4 = 1
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(toks) - 1),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
           AS shingle
  FROM sub WHERE len(toks) >= 3
), sizes AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter_cnt
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, inter_cnt, overlap_coef, rn FROM (
  SELECT i.doc_a, i.doc_b, i.inter_cnt,
         round(CAST(i.inter_cnt AS DOUBLE) / least(sa.n_sh, sb.n_sh), 6)
           AS overlap_coef,
         row_number() OVER (
           ORDER BY round(CAST(i.inter_cnt AS DOUBLE)
                          / least(sa.n_sh, sb.n_sh), 6) DESC,
                    i.doc_a, i.doc_b) AS rn
  FROM inter i
  JOIN sizes sa ON i.doc_a = sa.doc_id
  JOIN sizes sb ON i.doc_b = sb.doc_id
) WHERE rn <= 10
"""


@register("neardup_containment_pairs", oracle=_CONTAIN_ORACLE, tags=("L2",))
def neardup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 asymmetric near-dup: top-10 pairs by the OVERLAP COEFFICIENT
    |A∩B| / min(|A|,|B|) — Broder-style containment of the smaller
    shingle set. Catches subset duplication (a doc embedded inside a
    larger one) that symmetric Jaccard dilutes: a 50-shingle doc fully
    contained in a 5000-shingle doc scores 1.0 here but ~0.01 on
    Jaccard. Same linear shared-shingle candidate join as
    `neardup_jaccard_pairs` (zero-overlap pairs never materialize; at
    100 TB candidates come from MinHash banding instead), per-doc
    size tables shuffle-joined (corpus-cardinality — never
    hint-broadcast)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 1)
    n = F.size(F.split("text", " "))
    shingles = trigram_shingles(F.col("text"))
    sh = (
        docs.filter(n >= 3)
        .select("doc_id", F.explode(F.array_distinct(shingles)).alias("shingle"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingle").alias("shingle_b"))
    inter = (
        a.join(b, (F.col("shingle") == F.col("shingle_b")) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter_cnt"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    coef = F.round(
        F.col("inter_cnt").cast("double") / F.least(F.col("n_a"), F.col("n_b")), 6
    )
    scored = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", "inter_cnt", coef.alias("overlap_coef"))
    )
    return topk_ranked(
        scored,
        10,
        F.col("overlap_coef").desc(),
        F.col("doc_a"),
        F.col("doc_b"),
    )


# --- L2/L4: SemDeDup — semantic dedup inside embedding clusters ---------

_SEMDEDUP_TAU = 0.30  # fixture-calibrated; real corpora run ~0.95+

_SEMDEDUP_ORACLE = f"""
WITH pairs AS (
  SELECT a.label, b.vec_id AS vec_id, a.vec_id AS keeper,
         round({_duck_cosine('a.embedding', 'b.embedding')}, 6) AS cos
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE round({_duck_cosine('a.embedding', 'b.embedding')}, 6) >= {_SEMDEDUP_TAU}
), best AS (
  SELECT label, vec_id, keeper, cos,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, keeper) AS rn
  FROM pairs)
SELECT label, vec_id, keeper, cos FROM best WHERE rn = 1
"""


# bench=False since r13: this fixed-k quadratic CONTROL arm is demoted
# from the bench headline. The r12 root-cause (BASELINE.md "Root-cause
# addendum") showed whole-bench-session JVM state inflates its
# pair-scoring stage to 4-6 s in EVERY driver run (idle A/B: 2.6 s,
# zero code regression), i.e. 13% of the headline was measuring an
# artifact of bench-session ordering, not the operator. The demotion
# rule is re-keyed to the DRIVER-session reading (>4 s, observed twice:
# r11 4.13 s, r12 4.26 s) rather than the idle probe the root-cause
# proved will never fire. The query stays registered and exact-oracle
# checked; its ongoing regression watch is the idle three-trial probe
# recorded per-round in BASELINE.md, and `semantic_dedup_scaled`
# (capacity-capped clusters — the deployment twin) represents the
# SemDeDup family in the headline.
@register("semantic_dedup_semdedup", oracle=_SEMDEDUP_ORACLE, tags=("L2", "L4", "L5", "ext"), bench=False)
def semantic_dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication that only compares embeddings INSIDE the same
    k-means cluster — the trick that turns O(N²) pairwise cosine into
    sum-over-clusters O(Σ|c|²), tractable because k is chosen so
    clusters stay small (k ≈ √N). A document is dropped when its
    cosine to a LOWER-id cluster-mate reaches τ; each dropped doc
    reports its best keeper (max cos, then min id — deterministic).

    The fixture's `label` column plays the cluster id (the cluster
    assignment step itself is the registered `nearest_centroid` /
    `kmeans_refined_clusters` queries); τ = 0.30 is calibrated to the
    synthetic embeddings — real deployments run ~0.95+. Plan shape at
    scale: ONE hash shuffle of embeddings on the cluster id for the
    self-join — candidate pairs never cross clusters, so no
    cartesian, and the cosine is JVM-side array algebra. Cosines are
    rounded to 6dp before the τ gate and the keeper ranking, so no
    cross-engine float boundary can flip membership."""
    from gostream_spark.functions import dot_product, l2_norm

    # Hoist each vector's norm BEFORE the self-join: cosine inside the
    # pair projection would re-fold both norms for every pair (3 array
    # folds/pair); precomputing them per ROW leaves one dot product
    # per pair — same doubles bit-for-bit (the norm fold is identical,
    # merely computed once), ~3x less float work on |c|^2 pairs.
    emb = load_table(spark, sf_dir, "embeddings").select(
        "label", "vec_id", "embedding", l2_norm(F.col("embedding")).alias("nrm")
    )
    a = emb.select(
        F.col("label"),
        F.col("vec_id").alias("keeper"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = emb.select(
        F.col("label").alias("label_b"),
        F.col("vec_id").alias("vec_id"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    pairs = (
        a.join(b, (a.label == b.label_b) & (a.keeper < b.vec_id))
        .select(
            "label",
            "vec_id",
            "keeper",
            F.round(
                F.try_divide(
                    dot_product(F.col("emb_a"), F.col("emb_b")),
                    F.col("nrm_a") * F.col("nrm_b"),
                ),
                6,
            ).alias("cos"),
        )
        .filter(F.col("cos") >= F.lit(_SEMDEDUP_TAU))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(), F.col("keeper"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("label", "vec_id", "keeper", "cos")
    )


# --- L2 ext: SemDeDup with corpus-size-derived cluster count ------------

_SEMDEDUP_CAP = 32  # max rows per fine cluster => k grows ~ N/32 with N

_SEMDEDUP_SCALED_ORACLE = f"""
WITH base AS (
  SELECT vec_id, label, embedding,
         round(list_aggregate(list_transform(embedding,
               v -> CAST(v AS DOUBLE)), 'sum'), 6) AS proj
  FROM embeddings
), ranked AS (
  SELECT vec_id, label, embedding,
         CAST(floor((row_number() OVER (PARTITION BY label
                                        ORDER BY proj, vec_id) - 1)
                    / {_SEMDEDUP_CAP}) AS BIGINT) AS sub_cluster
  FROM base
), pairs AS (
  SELECT a.label, a.sub_cluster, b.vec_id AS vec_id, a.vec_id AS keeper,
         round({_duck_cosine('a.embedding', 'b.embedding')}, 6) AS cos
  FROM ranked a JOIN ranked b
    ON a.label = b.label AND a.sub_cluster = b.sub_cluster
   AND a.vec_id < b.vec_id
  WHERE round({_duck_cosine('a.embedding', 'b.embedding')}, 6) >= {_SEMDEDUP_TAU}
), best AS (
  SELECT label, sub_cluster, vec_id, keeper, cos,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, keeper) AS rn
  FROM pairs)
SELECT label, sub_cluster, vec_id, keeper, cos FROM best WHERE rn = 1
"""


@register(
    "semantic_dedup_scaled",
    oracle=_SEMDEDUP_SCALED_ORACLE,
    tags=("L2", "L4", "L5", "ext"),
    bench=True,
)
def semantic_dedup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup in its SCALE regime: cluster count derived from corpus
    size so per-cluster pair work stays bounded as N grows — the
    fixture-fixed k=10 of `semantic_dedup_semdedup` makes |cluster|
    grow with N and the pair count grow as N^2/10 (PERF.md's one
    super-linear row). Note that a literal k = sqrt(N) is NOT enough:
    sum-over-clusters |c|^2 = N^2/k = N^1.5, still super-linear (a
    10x corpus step means 31.6x more pairs). What the SemDeDup paper's
    k choice actually buys is BOUNDED CLUSTER CAPACITY, so this
    variant pins |cluster| <= 32 and lets k ~ N/32 grow linearly with
    the corpus: total pairs <= 32N, and PERF.md's sf-step goes linear.

    Mechanics: the coarse semantic assignment is the fixture `label`
    (production: the registered `nearest_centroid` /
    `kmeans_refined_clusters` k-means path); each coarse cluster is
    then refined into capacity-32 fine clusters by sorting on a fixed
    linear functional of the embedding (the all-ones projection — a
    deterministic 1-D locality proxy, i.e. a balanced 1-D k-means
    refinement) and chunking the sorted order. Both engines compute
    the projection as the identical left-to-right float64 fold, and
    it is rounded to 6dp with vec_id tie-breaks, so the fine
    assignment is bit-stable cross-engine. Pairing and keeper ranking
    are then exactly `semantic_dedup_semdedup`'s, scoped to
    (label, sub_cluster).

    Plan shape at 100 TB (r16 row-local form): one hash shuffle on
    label for the refinement window (at real scale the label space is
    the k-means cell id, so these windows are many and small) — and
    that is the ONLY exchange: a fine cluster is ≤ 32 rows by
    construction, so the pair scoring and the per-vector best-keeper
    ranking both happen INSIDE one collected cluster array, row-
    locally. The old self-join on (label, sub_cluster) re-shuffled
    full embedding vectors on both sides and re-ran the scan+window
    twice (exchange reuse does not fire across the differently-
    projected join arms); the groupBy that replaces it adds no
    exchange at all, because hash-partitioning by label already
    clusters (label, sub_cluster). Per-group memory and pair fan-out
    stay capped at 32 vectors / 32²/2 pairs — the same capacity bound
    that makes the algorithm linear also makes it safely row-local.
    Measured at sf0.1 (interleaved best-of-4): 0.668 s vs 1.504 s;
    plan: 3 hash exchanges + BroadcastHashJoin + 2 window passes →
    1 hash exchange, zero joins."""
    from gostream_spark.functions import l2_norm

    emb = load_table(spark, sf_dir, "embeddings").select(
        "label",
        "vec_id",
        "embedding",
        l2_norm(F.col("embedding")).alias("nrm"),
        F.round(
            F.aggregate(
                F.col("embedding"),
                F.lit(0.0),
                lambda acc, v: acc + v.cast("double"),
            ),
            6,
        ).alias("proj"),
    )
    w_lbl = Window.partitionBy("label").orderBy("proj", "vec_id")
    fine = emb.select(
        "label",
        "vec_id",
        "embedding",
        "nrm",
        F.floor((F.row_number().over(w_lbl) - 1) / _SEMDEDUP_CAP)
        .cast("long")
        .alias("sub_cluster"),
    )
    # Collect each capacity-capped fine cluster into ONE row (bounded
    # at 32 members) and do all pair work inside it. Members sort by
    # vec_id (struct comparison stops at the unique leading field);
    # for member j, the candidate keepers are exactly the lower-vec_id
    # members slice(mem, 1, j). The inner transform computes each
    # cosine ONCE (HOF lambdas get no common-subexpression
    # elimination, so the score is materialized in a struct before the
    # τ filter and the best-keeper fold); the dot product is the
    # identical left-to-right float64 fold of functions.dot_product,
    # and round/try_divide match the join form bit-for-bit. The fold
    # keeps the FIRST maximum (strict >), which under ascending
    # keeper order is exactly the old (cos DESC, keeper ASC)
    # row_number() == 1 ranking.
    pair_expr = f"""
    filter(
      transform(mem, (m, j) -> named_struct(
        'vec_id', m.vec_id,
        'best', aggregate(
          filter(
            transform(slice(mem, 1, j), x -> named_struct(
              'k', x.vec_id,
              'c', round(try_divide(
                     aggregate(zip_with(x.embedding, m.embedding,
                                        (p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)),
                               CAST(0.0 AS DOUBLE), (a2, v2) -> a2 + v2),
                     x.nrm * m.nrm), 6))),
            pr -> pr.c IS NOT NULL AND pr.c >= {_SEMDEDUP_TAU}),
          named_struct('cos', CAST(NULL AS DOUBLE), 'keeper', CAST(NULL AS BIGINT)),
          (acc, pr) -> CASE WHEN acc.cos IS NULL OR pr.c > acc.cos
                            THEN named_struct('cos', pr.c, 'keeper', pr.k)
                            ELSE acc END))),
      s -> s.best.cos IS NOT NULL)
    """
    grouped = fine.groupBy("label", "sub_cluster").agg(
        F.array_sort(F.collect_list(F.struct("vec_id", "embedding", "nrm"))).alias(
            "mem"
        )
    )
    out = grouped.select(
        "label", "sub_cluster", F.explode(F.expr(pair_expr)).alias("s")
    )
    return out.select(
        "label",
        "sub_cluster",
        F.col("s.vec_id").alias("vec_id"),
        F.col("s.best.keeper").alias("keeper"),
        F.col("s.best.cos").alias("cos"),
    )


# --- L3/L5 ext: kNN label-disagreement (mislabel candidates) ------------

def mislabel_oracle(probe_below: int | None = None) -> str:
    """DuckDB oracle for ``knn_label_disagreement`` with an optional
    probe-panel bound (VERDICT r15 #2): at decade fixtures the
    probes-x-corpus pair join is what blows the one-box oracle's
    memory/spill caps, so the decade sweep bounds the PROBE side to
    replica 0 (`vec_id < ID_OFFSET`) in BOTH arms — the neighbor
    corpus stays the full input, so the ground truth is still a
    full-corpus neighbor search, just for a fixed panel. Default
    (None) reproduces the registered oracle exactly."""
    probe = f" AND vec_id < {probe_below}" if probe_below is not None else ""
    return f"""
WITH sub AS (
  SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % 5 = 0
), probes AS (
  SELECT vec_id, embedding, label FROM sub WHERE TRUE{probe}
), pairs AS (
  SELECT a.vec_id, a.label AS own_label, b.label AS nb_label,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY round({_duck_cosine('a.embedding', 'b.embedding')}, 6) DESC,
                    b.vec_id) AS rn
  FROM probes a JOIN sub b ON a.vec_id <> b.vec_id
), votes AS (
  SELECT vec_id, own_label, nb_label, count(*) AS v
  FROM pairs WHERE rn <= 5 GROUP BY vec_id, own_label, nb_label
), winner AS (
  SELECT vec_id, own_label, nb_label AS voted_label, v AS n_votes
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY v DESC, nb_label) AS wr
        FROM votes) WHERE wr = 1
)
SELECT vec_id, own_label, voted_label, CAST(n_votes AS BIGINT) AS n_votes
FROM winner
WHERE voted_label <> own_label AND n_votes >= 3
"""


_MISLABEL_ORACLE = mislabel_oracle()


@register("knn_label_disagreement", oracle=_MISLABEL_ORACLE, tags=("L3", "L5", "ext"))
def knn_label_disagreement(
    spark: SparkSession, sf_dir: str, probe_below: int | None = None
) -> DataFrame:
    """Label-noise detection by NEIGHBOR VOTE (the Confident-Learning
    / cleanlab family's simplest member): a vector whose 5 nearest
    neighbors majority-vote a DIFFERENT label (>=3 of 5) is a
    mislabel candidate — the standard triage pass before training on
    scraped labels. Runs on the explicit 1-in-5 subset like the other
    exact pairwise forms; at corpus scale the neighbor arm swaps to
    the IVF/LSH candidate path (`ivf_topk`, `similarity_lsh_buckets`)
    with identical vote logic. Determinism: cosines rounded to 6dp
    before the neighbor ranking, vote ties broken by label — both
    window orders are total, so the flagged set is bit-stable
    cross-engine."""
    from gostream_spark.functions import dot_product, l2_norm

    sub = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % 5 == 0)
        .select(
            "vec_id", "embedding", "label", l2_norm(F.col("embedding")).alias("nrm")
        )
    )
    # probe_below (decade-sweep knob, default None = every subset
    # vector probes): bound the PROBE side while the neighbor corpus
    # stays full — panel x corpus, not corpus x corpus, so the decade
    # sweep's one-box oracle stays inside its resource caps while the
    # engine arm still searches the entire input per probe (r15 #2).
    probes = (
        sub if probe_below is None else sub.filter(F.col("vec_id") < probe_below)
    )
    a = probes.select(
        F.col("vec_id"),
        F.col("label").alias("own_label"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = sub.select(
        F.col("vec_id").alias("nb_id"),
        F.col("label").alias("nb_label"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    pairs = a.join(b, F.col("vec_id") != F.col("nb_id")).select(
        "vec_id",
        "own_label",
        "nb_label",
        F.round(
            F.try_divide(
                dot_product(F.col("ea"), F.col("eb")), F.col("na") * F.col("nb")
            ),
            6,
        ).alias("cos"),
        "nb_id",
    )
    w_nb = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(), F.col("nb_id"))
    votes = (
        pairs.withColumn("rn", F.row_number().over(w_nb))
        .filter(F.col("rn") <= 5)
        .groupBy("vec_id", "own_label", "nb_label")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    w_win = Window.partitionBy("vec_id").orderBy(F.col("v").desc(), F.col("nb_label"))
    return (
        votes.withColumn("wr", F.row_number().over(w_win))
        .filter(F.col("wr") == 1)
        .filter((F.col("nb_label") != F.col("own_label")) & (F.col("v") >= 3))
        .select(
            "vec_id",
            "own_label",
            F.col("nb_label").alias("voted_label"),
            F.col("v").cast("long").alias("n_votes"),
        )
    )
