"""Advanced dedup strategies for training-data curation (driver
mandate: exact ✓ L1, MinHash+LSH ✓ L2, n-gram Jaccard ✓ L2 — this
module adds embedding-cosine near-dup removal and SimHash).

Both are exact-oracle-checked: the cosine dedup reuses the float64
fold discipline, and the SimHash here is built from md5 hex digits
(md5 agrees across engines by definition), so even the fingerprint
bits are cross-engine reproducible — the xxhash64-seeded variant in
``llm_similarity.minhash_lsh_buckets`` is the cheaper Spark-internal
twin for production.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gostream_spark.functions import cosine_similarity
from gostream_spark.functions.sketches import (
    bottomk_sketch,
    minhash_band_table,
    simhash_from_nibbles,
    simhash_nibbles,
    trigram_shingles,
)
from gostream_spark.io import load_spread, load_table
from gostream_spark.operators import topk_ranked
from gostream_spark.operators.prefix_join import prefix_filtered_jaccard_pairs
from gostream_spark.queries.llm_similarity import _duck_cosine
from gostream_spark.registry import register

# --- embedding-cosine near-dup dedup ------------------------------------

_EMB_DEDUP_ORACLE = f"""
WITH sub AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id % 10 = 0),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM sub a JOIN sub b ON a.vec_id < b.vec_id
  WHERE {_duck_cosine('a.embedding', 'b.embedding')} >= 0.3
)
SELECT s.vec_id, s.label FROM sub s
WHERE s.vec_id NOT IN (SELECT vec_id FROM dropped)
"""


@register("embedding_dedup", oracle=_EMB_DEDUP_ORACLE, tags=("L2", "L4", "ext"))
def embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup removal: drop every vector that is
    ≥0.3-cosine-similar to a LOWER-id vector (keep-first by id — a
    deterministic single-pass approximation of clustering dedup).
    Exact all-pairs on a 1-in-10 subset; the production path generates
    candidates from `similarity_lsh_buckets` buckets instead of
    all-pairs, then applies this same keep-lowest rule inside each
    candidate set."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 10 == 0)
    a = emb.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("eb"))
    dropped = (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .filter(cosine_similarity(F.col("ea"), F.col("eb")) >= 0.3)
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
    )
    return emb.join(dropped, "vec_id", "left_anti").select("vec_id", "label")


# --- SimHash fingerprint dedup ------------------------------------------

# hex digit of md5(token) at position p+1, as an integer 0..15
_HEXDIGITS = "0123456789abcdef"

_SIMHASH_BITS = 16


def _duck_simhash_bit(p: int) -> str:
    return (
        f"(list_aggregate(list_transform(toks, t -> "
        f"CAST(strpos('{_HEXDIGITS}', substr(md5(t), {p + 1}, 1)) - 1 AS DOUBLE) - 7.5), "
        f"'sum') > 0)::INT"
    )


_SIMHASH_ORACLE = f"""
WITH t AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents
), fp AS (
  SELECT doc_id,
         {' + '.join(f'{_duck_simhash_bit(p)} * {2 ** p}' for p in range(_SIMHASH_BITS))}
           AS simhash
  FROM t
)
SELECT doc_id, simhash,
       count(*) OVER (PARTITION BY simhash) AS bucket_size,
       (row_number() OVER (PARTITION BY simhash ORDER BY doc_id) = 1) AS keeper
FROM fp
"""


@register("simhash_dedup", oracle=_SIMHASH_ORACLE, tags=("L2", "F7", "ext"), bench=True)
def simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup fingerprinting: 16-bit signature per document
    — bit p is the sign of the sum over distinct tokens of
    (md5-hex-digit_p - 7.5). Documents sharing a fingerprint are
    near-dup candidates; the keep-lowest-id row per bucket survives.
    One row-local fingerprint pass + one shuffle on the 16-bit key —
    linear at any corpus size (this is the classic web-scale dedup
    design). md5-derived bits make it exactly reproducible in the
    DuckDB oracle; production would swap in xxhash64 bits (cheaper,
    Spark-internal)."""
    docs = load_spread(spark, sf_dir)
    toks = F.array_distinct(F.split("text", " "))
    # Materialize the per-token md5 array in its own projection:
    # CollapseProject won't inline a non-cheap alias referenced 16
    # times, so each token hashes ONCE (not once per bit). r16: the
    # nibble pack (one conv per token) gets the same treatment, and
    # the 16 bit folds then read shift/mask integers instead of
    # re-scanning hex text per (token, bit) — measured 1.163 s →
    # 0.720 s at sf0.1, fingerprints bit-identical (see
    # functions.sketches.simhash_from_nibbles).
    hexed = docs.select("doc_id", F.transform(toks, lambda t: F.md5(t)).alias("md5s"))
    packed = hexed.select(
        "doc_id", simhash_nibbles(F.col("md5s")).alias("hv")
    )
    fp = packed.select(
        "doc_id",
        simhash_from_nibbles("hv", _SIMHASH_BITS).alias("simhash"),
    )
    from pyspark.sql import Window

    by_fp = Window.partitionBy("simhash")
    return fp.select(
        "doc_id",
        "simhash",
        F.count(F.lit(1)).over(by_fp).alias("bucket_size"),
        (
            F.row_number().over(by_fp.orderBy("doc_id")) == 1
        ).alias("keeper"),
    )


# --- L2 wave 3: edit-distance near-dup with language blocking -----------

_LEV_ORACLE = """
WITH sub AS (
  SELECT doc_id, lang, substr(text, 1, 80) AS head
  FROM documents WHERE doc_id % 10 = 0
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
         levenshtein(a.head, b.head) AS edit_dist
  FROM sub a JOIN sub b ON a.lang = b.lang AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, lang, edit_dist, rn FROM (
  SELECT *, row_number() OVER (ORDER BY edit_dist, doc_a, doc_b) AS rn
  FROM pairs
) WHERE rn <= 20
"""


@register("neardup_levenshtein", oracle=_LEV_ORACLE, tags=("L2", "F1"))
def neardup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 wave 3: edit-distance near-dup — top-20 closest document
    pairs by Levenshtein distance over an 80-char prefix, with
    LANGUAGE BLOCKING: the self-join keys on `lang`, so candidate
    pairs form only within a language. Blocking is the scale lever for
    quadratic comparators — at 100 TB the block key gets finer
    (lang + length-band + SimHash band) until per-block pair counts
    are bounded, and the O(len^2) comparator runs only inside blocks.
    Prefixing to 80 chars bounds per-pair cost; both engines compute
    the same integer distance."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    sub = docs.select(
        "doc_id", "lang", F.substring("text", 1, 80).alias("head")
    )
    a = sub.select(
        F.col("doc_id").alias("doc_a"), "lang", F.col("head").alias("head_a")
    )
    b = sub.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("head").alias("head_b"),
    )
    pairs = a.join(
        b, (F.col("lang") == F.col("lang_b")) & (F.col("doc_a") < F.col("doc_b"))
    ).select(
        "doc_a", "doc_b", "lang",
        F.levenshtein("head_a", "head_b").alias("edit_dist"),
    )
    return topk_ranked(
        pairs.select("doc_a", "doc_b", "lang", "edit_dist"),
        20,
        F.col("edit_dist"),
        F.col("doc_a"),
        F.col("doc_b"),
    )


# --- L2: duplicate-cluster construction (connected components) ----------

_COMPONENTS_ORACLE = """
WITH RECURSIVE sub AS (
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
  SELECT doc_id, 0 AS band_id, md5(m[1] || m[2]) AS band_hash FROM mins
  UNION ALL SELECT doc_id, 1, md5(m[3] || m[4]) FROM mins
  UNION ALL SELECT doc_id, 2, md5(m[5] || m[6]) FROM mins
  UNION ALL SELECT doc_id, 3, md5(m[7] || m[8]) FROM mins
), starred AS (
  SELECT doc_id,
         min(doc_id) OVER (PARTITION BY band_id, band_hash) AS hub
  FROM bands
), edges AS (
  SELECT DISTINCT hub AS src, doc_id AS dst FROM starred WHERE doc_id <> hub
), sym AS (
  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
), reach(a, b) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.a, s.dst FROM reach r JOIN sym s ON s.src = r.b
)
SELECT a AS doc_id, min(b) AS cluster,
       (a = min(b)) AS is_keeper
FROM reach GROUP BY a
"""


def _bottomk_band_star_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared candidate-graph builder: bottom-k MinHash bands -> star
    edges per (band, band_hash) bucket (hub = min doc_id; linear in
    bucket size, never all-pairs). Used by the cluster-closure and
    PageRank-centrality queries."""
    stacked = minhash_band_table(load_spread(spark, sf_dir), bottomk_sketch)
    hub = F.min("doc_id").over(Window.partitionBy("band_id", "band_hash"))
    return (
        stacked.withColumn("hub", hub)
        .filter(F.col("doc_id") != F.col("hub"))
        .select(F.col("hub").alias("src"), F.col("doc_id").alias("dst"))
        .distinct()
    )


@register("neardup_cluster_components", oracle=_COMPONENTS_ORACLE, tags=("L2", "ext"), bench=True)
def neardup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 completion: candidate pairs → duplicate CLUSTERS. Band
    collisions only assert pairwise similarity; dedup needs the
    transitive closure (A~B, B~C ⇒ {A,B,C} one cluster) — computed
    with `operators.components.connected_components` (iterative
    min-label propagation, the BSP algorithm GraphX/GraphFrames use).
    Edges are STAR edges per (band, band_hash) bucket — linear in
    bucket size, never the quadratic all-pairs — from the bottom-k
    MinHash bands. Output: every doc's cluster id (= min doc_id in
    its component) and the keep/drop decision. The oracle computes
    the identical closure with a recursive CTE — exact agreement
    certifies the iterative fixpoint."""
    from gostream_spark.operators.components import connected_components

    edges = _bottomk_band_star_edges(spark, sf_dir)
    nodes = load_table(spark, sf_dir, "documents").select("doc_id")
    comp = connected_components(nodes, edges)
    return comp.select(
        F.col("id").alias("doc_id"),
        "cluster",
        (F.col("id") == F.col("cluster")).alias("is_keeper"),
    )


# --- SimHash Hamming-1 probing (Manku-style near-dup pairs) -------------

_SIMHASH_FP_CTE = f"""
WITH t AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents
  WHERE doc_id % 5 = 0
), fp AS (
  SELECT doc_id,
         {' + '.join(f'{_duck_simhash_bit(p)} * {2 ** p}' for p in range(_SIMHASH_BITS))}
           AS simhash
  FROM t
)"""

_HAMMING_ORACLE = (
    _SIMHASH_FP_CTE
    + f""",
keys AS (
  SELECT doc_id, simhash, simhash AS k FROM fp
  UNION ALL
  SELECT doc_id, simhash, xor(simhash, CAST(power(2, i) AS BIGINT)) AS k
  FROM fp, range({_SIMHASH_BITS}) AS r(i)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS fp_a, b.simhash AS fp_b
  FROM keys a JOIN keys b ON a.k = b.k AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
FROM pairs WHERE bit_count(xor(fp_a, fp_b)) <= 1
"""
)


@register("simhash_hamming_pairs", oracle=_HAMMING_ORACLE, tags=("L2", "ext"))
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash completion (the Manku/Google web-dedup shape): find all
    pairs within Hamming distance 1 WITHOUT comparing fingerprints
    pairwise — each doc emits its fingerprint plus the 16 one-bit
    flips as probe keys; a key collision IS a candidate pair, verified
    by bit_count on the two fingerprints. 17 small integer keys per
    doc, candidates form only inside key buckets (hash-partitioned
    groupBy-join, linear); all-pairs never materializes. At 64 bits /
    distance k the same scheme uses table rotations instead of flips
    — identical plan shape."""
    # The explicit text-NOT-NULL filter is semantics-preserving (a
    # NULL text yields a NULL fingerprint whose probe keys never
    # match, in both engines) and makes the coalesce below a dead
    # arm; together they stop Catalyst inferring
    # isnotnull(<full simhash fold>) from the probe-key join — which
    # evaluated the per-doc fingerprint aggregate a SECOND time
    # inside the scan filter (r10 registry audit).
    docs = load_spread(
        spark,
        sf_dir,
        where=(F.col("doc_id") % 5 == 0) & F.col("text").isNotNull(),
    )
    toks = F.array_distinct(F.split("text", " "))
    hexed = docs.select(
        "doc_id", F.transform(toks, lambda t: F.md5(t)).alias("md5s")
    )
    # r16: same nibble-pack fast path as simhash_dedup (fingerprints
    # bit-identical; the text-NOT-NULL filter above keeps the
    # coalesce a dead arm exactly as before).
    packed = hexed.select(
        "doc_id", simhash_nibbles(F.col("md5s")).alias("hv")
    )
    fp = packed.select(
        "doc_id",
        F.coalesce(
            simhash_from_nibbles("hv", _SIMHASH_BITS), F.lit(0)
        ).alias("simhash"),
    )
    probe_keys = F.array(
        F.col("simhash"),
        *[
            F.col("simhash").bitwiseXOR(F.lit(2**i)).alias(f"x{i}")
            for i in range(_SIMHASH_BITS)
        ],
    )
    keys = fp.select("doc_id", "simhash", F.explode(probe_keys).alias("k"))
    a = keys.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("fp_a"), "k"
    )
    b = keys.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("fp_b"), "k"
    )
    pairs = (
        a.join(b, "k")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "fp_a", "fp_b")
        .distinct()
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return pairs.filter(ham <= 1).select(
        "doc_a", "doc_b", ham.cast("long").alias("hamming")
    )


# --- production-form 64-bit SimHash (xxhash64, rows-only) ---------------


_SIMHASH64_ORACLE = """
WITH k AS (
  SELECT list_sort(list_distinct(string_split(text, ' '))) AS key
  FROM documents)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT key) AS BIGINT) AS n_tokensets,
       CAST(1 AS BIGINT) AS dup_same_fp,
       CAST(1 AS BIGINT) AS buckets_le_tokensets
FROM k
"""


@register(
    "simhash64_xxhash_buckets", oracle=_SIMHASH64_ORACLE, tags=("L2", "F7", "ext")
)
def simhash64_xxhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deployable SimHash: 64-bit fingerprints where ONE
    Spark-internal xxhash64 per token supplies all 64 bit votes — 1
    hash pass vs the md5 form's 1-per-hex-digit, and a 2^64 keyspace
    that kills the small-vocabulary collision problem the 16-bit demo
    has. xxhash64 has no DuckDB twin, so the GUARANTEE shape makes
    this exact-checkable: the row carries the exact doc and distinct
    token-set counts plus verdicts for the fingerprint invariants
    that hold on ANY input — equal token sets ⇒ equal fingerprints
    (the dedup no-false-negative half) and the fingerprint-bucket
    count never exceeding the token-set count. The md5-form
    `simhash_dedup` stays the exact-checked value anchor, and
    locality is pinned in tests/test_properties.py."""
    from gostream_spark.functions.sketches import simhash64_from_xxhashes

    docs = load_spread(spark, sf_dir)
    toks = F.array_distinct(F.split("text", " "))
    # Token-set key via to_json: JSON string escaping is collision-proof
    # for ARBITRARY token bytes — a whitespace-split token may legally
    # contain \\x1f, so any ad-hoc join separator can alias two distinct
    # token sets into one key and flip dup_same_fp to 0 (ADVICE r8). The
    # oracle counts DISTINCT on the sorted list value itself.
    # has_key carries the key's nullness as a CHEAP boolean (key is
    # NULL iff text is NULL): filtering on key.isNotNull() directly
    # would be alias-substituted into isnotnull(to_json(array_sort(
    # ...))) and pushed below the spread exchange, evaluating the
    # whole key expression a second time serially in the scan task
    # (r10 registry audit).
    hashed = docs.select(
        "doc_id",
        F.col("text").isNotNull().alias("has_key"),
        F.to_json(F.array_sort(toks)).alias("key"),
        F.transform(toks, lambda t: F.xxhash64(t)).alias("hs"),
    )
    fp = hashed.select(
        "has_key", "key", simhash64_from_xxhashes(F.col("hs")).alias("fp")
    )
    # The oracle's count(DISTINCT key) skips a NULL key (all-NULL-text
    # docs), so the bucket invariants uniformly exclude the NULL-key
    # group on this side too — n_docs alone counts every row, matching
    # the oracle's count(*).
    stats = fp.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(
            F.when(F.col("has_key"), F.col("fp"))
        ).alias("n_fps"),
    )
    grp = (
        fp.filter(F.col("has_key"))
        .groupBy("key")
        .agg(F.countDistinct("fp").alias("nfp"))
        .agg(
            F.count(F.lit(1)).alias("n_tokensets"),
            F.coalesce(F.max("nfp"), F.lit(1)).alias("max_nfp"),
        )
    )
    return stats.crossJoin(F.broadcast(grp)).select(
        "n_docs",
        "n_tokensets",
        (F.col("max_nfp") == 1).cast("long").alias("dup_same_fp"),
        (F.col("n_fps") <= F.col("n_tokensets")).cast("long").alias(
            "buckets_le_tokensets"
        ),
    )


# --- winnowing fingerprints (MOSS) --------------------------------------

_WINNOW_K = 3  # words per shingle
_WINNOW_W = 4  # shingle hashes per winnowing window

_WINNOW_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
h AS (
  SELECT doc_id, len(tk) - {_WINNOW_K - 1} AS m,
         list_transform(range(1, len(tk) - {_WINNOW_K - 2}),
                        p -> substr(md5(array_to_string(tk[p:p+{_WINNOW_K - 1}], ' ')), 1, 8))
           AS hs
  FROM t),
w AS (
  SELECT doc_id, m, hs,
         list_sort(list_distinct(list_transform(range({_WINNOW_W}, m + 1), i ->
           list_aggregate(
             list_filter(range(i - {_WINNOW_W - 1}, i + 1),
                         p -> hs[p] = list_aggregate(hs[i-{_WINNOW_W - 1}:i], 'min')),
             'max')))) AS fps
  FROM h)
SELECT doc_id,
       CAST(m AS BIGINT) AS n_shingles,
       CAST(len(fps) AS BIGINT) AS n_fps,
       md5(coalesce(array_to_string(list_transform(fps, p -> hs[p]), '|'), ''))
         AS fp_digest,
       CAST(CASE WHEN m > 0 THEN 10000 * len(fps) // m ELSE 0 END AS BIGINT)
         AS density_bp
FROM w
"""


def _winnow_selected(docs: DataFrame) -> DataFrame:
    """(doc_id, m, hs, fps): shingle count, k-shingle hash array, and
    the winnow-selected positions (w-window minima, rightmost ties)."""
    toks = F.split("text", " ")
    m = (F.size(toks) - (_WINNOW_K - 1)).alias("m")
    # Guard: fewer tokens than one shingle would make sequence(1, m<=0)
    # DESCEND through 0 and crash slice — short docs get an empty hash
    # array instead (found by the hypothesis fuzz in test_properties).
    hs = F.when(
        F.size(toks) >= _WINNOW_K,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (_WINNOW_K - 1)),
            lambda p: F.substring(
                F.md5(F.array_join(F.slice(toks, p, _WINNOW_K), " ")), 1, 8
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = docs.select("doc_id", m, hs.alias("hs"))
    # r16 (guide §1.2 per-task work): materialize each window's minimum
    # ONCE into its own array column. The previous form computed the
    # window min INSIDE the tie-break filter lambda, and higher-order
    # functions get no common-subexpression elimination — every window
    # evaluated array_min(slice(...)) W times (once per filter element)
    # plus the sequence/filter/array_max allocations. The rightmost-tie
    # pick is now a nested CASE over W fixed probes (no per-window array
    # allocation at all). Same total order, bit-identical selection;
    # measured at sf0.1: fingerprint 0.674 s -> 0.581 s interleaved.
    mns = F.when(
        F.col("m") >= _WINNOW_W,
        F.transform(
            F.sequence(F.lit(_WINNOW_W), F.col("m")),
            lambda i: F.array_min(F.slice(F.col("hs"), i - (_WINNOW_W - 1), _WINNOW_W)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base2 = base.select("doc_id", "m", "hs", mns.alias("mns"))

    def pick(i):
        # rightmost position in [i-W+1, i] whose hash equals the window
        # min: probe right-to-left via CASE; falls back to the leftmost
        # position (always a match when no later one is).
        mn = F.element_at(F.col("mns"), i - (_WINNOW_W - 1))
        # Build inside-out so the OUTERMOST (first-evaluated) probe is
        # position i itself: rightmost match must win the tie.
        expr = i - (_WINNOW_W - 1)
        for off in range(_WINNOW_W - 2, -1, -1):
            expr = F.when(
                F.element_at(F.col("hs"), i - off) == mn, i - off
            ).otherwise(expr)
        return expr

    sel = F.when(
        F.col("m") >= _WINNOW_W,
        F.array_sort(
            F.array_distinct(
                F.transform(F.sequence(F.lit(_WINNOW_W), F.col("m")), pick)
            )
        ),
    ).otherwise(F.array().cast("array<int>"))
    return base2.select("doc_id", "m", "hs", sel.alias("fps"))


@register("winnowing_fingerprint", oracle=_WINNOW_ORACLE, tags=("L2", "F7", "ext"), bench=True)
def winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme): hash every
    k-word shingle, slide a w-hash window, keep each window's minimum
    (rightmost on ties). Guarantees a fingerprint in every w-window —
    bounded-gap coverage that 0-mod-p sampling (rolling_hash_chunks)
    cannot promise — so any shared run of k+w-1 words between two
    documents shares a fingerprint. Entirely row-local array HOFs: one
    corpus scan, zero shuffles; fingerprints land in (doc, position)
    form ready for an inverted-index join. Hashes are 8-hex md5
    prefixes compared lexicographically, exact in both engines."""
    docs = load_spread(spark, sf_dir)
    fps = _winnow_selected(docs)
    return fps.select(
        "doc_id",
        F.col("m").cast("long").alias("n_shingles"),
        F.size("fps").cast("long").alias("n_fps"),
        F.md5(
            F.array_join(
                F.transform("fps", lambda p: F.element_at(F.col("hs"), p)), "|"
            )
        ).alias("fp_digest"),
        # m <= 0 (sub-shingle doc): density 0 on BOTH engine sides —
        # ANSI Spark would throw DIVIDE_BY_ZERO, DuckDB yields NULL;
        # neither is the hashable engine convention (NULL-free outputs).
        F.expr(
            "CAST(CASE WHEN m > 0 THEN 10000 * size(fps) div m ELSE 0 END"
            " AS BIGINT)"
        ).alias("density_bp"),
    )


# --- winnowing inverted-index candidate pairs ---------------------------

_WINNOW_PAIRS_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
           FROM documents WHERE doc_id % 5 = 0),
h AS (
  SELECT doc_id, len(tk) - {_WINNOW_K - 1} AS m,
         list_transform(range(1, len(tk) - {_WINNOW_K - 2}),
                        p -> substr(md5(array_to_string(tk[p:p+{_WINNOW_K - 1}], ' ')), 1, 8))
           AS hs
  FROM t),
w AS (
  SELECT doc_id, hs,
         list_distinct(list_transform(range({_WINNOW_W}, m + 1), i ->
           hs[list_aggregate(
                list_filter(range(i - {_WINNOW_W - 1}, i + 1),
                            p -> hs[p] = list_aggregate(hs[i-{_WINNOW_W - 1}:i], 'min')),
                'max')])) AS fp_hashes
  FROM h),
posts AS (SELECT doc_id, unnest(fp_hashes) AS fp FROM w)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
FROM posts a JOIN posts b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 3
"""


@register("winnowing_candidate_pairs", oracle=_WINNOW_PAIRS_ORACLE, tags=("L2", "L4", "ext"), bench=True)
def winnowing_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The winnowing dedup's join stage: explode each document's
    distinct selected fingerprints into an inverted index and
    self-join on the fingerprint — candidate pairs are documents
    sharing >= 3 winnowed fingerprints (>= 3 independent shared
    (k+w-1)-word runs). The shuffle is hash-partitioned on the
    fingerprint value — never all-pairs; bucket sizes are bounded by
    fingerprint popularity exactly as in MOSS/The Pile-style overlap
    mining, and a production run would drop the head (stop-fingerprint
    cut) the same way frequent-shingle cuts work in MinHash. 1-in-5
    doc subset keeps the fixture-scale index small."""
    docs = load_spread(spark, sf_dir, where=F.col("doc_id") % 5 == 0)
    sel = _winnow_selected(docs)
    posts = sel.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform("fps", lambda p: F.element_at(F.col("hs"), p))
            )
        ).alias("fp"),
    )
    a = posts.select(F.col("doc_id").alias("doc_a"), "fp")
    b = posts.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, ["fp"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )


# --- L2 wave 5: PageRank centrality for canonical-copy selection --------


_PAGERANK_ORACLE = """
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
  SELECT doc_id, 0 AS band_id, md5(m[1] || m[2]) AS band_hash FROM mins
  UNION ALL SELECT doc_id, 1, md5(m[3] || m[4]) FROM mins
  UNION ALL SELECT doc_id, 2, md5(m[5] || m[6]) FROM mins
  UNION ALL SELECT doc_id, 3, md5(m[7] || m[8]) FROM mins
), starred AS (
  SELECT doc_id,
         min(doc_id) OVER (PARTITION BY band_id, band_hash) AS hub
  FROM bands
), edges AS (
  SELECT DISTINCT hub AS src, doc_id AS dst FROM starred WHERE doc_id <> hub
), nodes AS (
  SELECT src AS id FROM edges UNION SELECT dst FROM edges
)
SELECT CAST((SELECT count(*) FROM nodes) AS BIGINT) AS n_nodes,
       CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
       CAST(1 AS BIGINT) AS mass_ok,
       CAST(1 AS BIGINT) AS floor_ok
"""


@register("neardup_pagerank_centrality", oracle=_PAGERANK_ORACLE, tags=("L2", "ext"))
def neardup_pagerank_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative PageRank over the near-dup candidate graph
    (``operators.pagerank``, 10 fixed BSP rounds): ranks the
    documents INSIDE duplicate neighborhoods so the keep-rule can
    select the most-central variant instead of blind min-id — the
    canonical-copy heuristic for crawl dedup (hub pages accumulate
    rank from their satellites). Nodes are the candidate-graph
    endpoints only (degree >= 1, so rank mass is conserved).

    Rank values are float sums over shuffled neighbor contributions
    (last-ulp partial-sum order), so the GUARANTEE shape makes this
    exact-checkable: the row carries the exact candidate-graph node
    and star-edge counts (the DuckDB oracle rebuilds the md5
    bottom-k band graph, same CTEs as the judge-green
    neardup_graph_stats) plus verdicts for the PageRank invariants
    that hold on ANY input — total rank mass equals the node count
    within float tolerance and every rank is at least the teleport
    floor (1 - d). The hub-outranks-leaf structure check stays in
    tests/test_rows_only.py."""
    from gostream_spark.operators.pagerank import pagerank

    edges = _bottomk_band_star_edges(spark, sf_dir)
    nodes = (
        edges.select(F.col("src").alias("doc_id"))
        .union(edges.select(F.col("dst").alias("doc_id")))
        .distinct()
    )
    ranks = pagerank(nodes, edges, damping=0.85, n_iter=10)
    rstats = ranks.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.coalesce(F.sum("rank"), F.lit(0.0)).alias("mass"),
        F.coalesce(F.min("rank"), F.lit(1.0)).alias("min_rank"),
    )
    estats = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return rstats.crossJoin(F.broadcast(estats)).select(
        "n_nodes",
        "n_edges",
        (
            F.abs(F.col("mass") - F.col("n_nodes"))
            <= F.greatest(F.lit(1e-3), F.col("n_nodes") * 1e-6)
        )
        .cast("long")
        .alias("mass_ok"),
        (F.col("min_rank") >= 0.15 - 1e-9).cast("long").alias("floor_ok"),
    )


# --- L2 wave 6: candidate-graph topology stats (wedges/triangles) -------

_GRAPH_STATS_ORACLE = """
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
  SELECT doc_id, 0 AS band_id, md5(m[1] || m[2]) AS band_hash FROM mins
  UNION ALL SELECT doc_id, 1, md5(m[3] || m[4]) FROM mins
  UNION ALL SELECT doc_id, 2, md5(m[5] || m[6]) FROM mins
  UNION ALL SELECT doc_id, 3, md5(m[7] || m[8]) FROM mins
), starred AS (
  SELECT doc_id,
         min(doc_id) OVER (PARTITION BY band_id, band_hash) AS hub
  FROM bands
), edges AS (
  SELECT DISTINCT hub AS src, doc_id AS dst FROM starred WHERE doc_id <> hub
), sym AS (
  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
), canon AS (
  SELECT src AS a, dst AS b FROM sym WHERE src < dst
), deg AS (
  SELECT src AS node, count(*) AS d FROM sym GROUP BY src
), tri AS (
  SELECT count(*) AS n_triangles
  FROM canon e1
  JOIN canon e2 ON e2.a = e1.b
  JOIN canon e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT (SELECT count(*) FROM canon) AS n_edges,
       (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) FROM deg) AS n_wedges,
       (SELECT n_triangles FROM tri) AS n_triangles
"""


@register("neardup_graph_stats", oracle=_GRAPH_STATS_ORACLE, tags=("L2", "J1", "ext"))
def neardup_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topology of the near-dup candidate graph: edge count, wedge
    count (length-2 paths — sum of deg·(deg−1)/2), and triangle count
    via the canonical-ordering two-hop self-join (each triangle
    a<b<c counted exactly once as e1=(a,b), e2=(b,c), e3=(a,c)).
    Wedges vs triangles is the standard graph-health check on a dedup
    pipeline: star edges from banding give MANY wedges and few
    triangles; a triangle burst means overlapping bands found a dense
    clique (one big template family) and downstream closure will
    produce a giant cluster. Self-join chains shuffle on the join
    keys — never an all-pairs product; the ordering predicate halves
    the edge list before the two-hop join."""
    edges = _bottomk_band_star_edges(spark, sf_dir)
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    canon = sym.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    n_edges = canon.agg(F.count(F.lit(1)).alias("n_edges"))
    n_wedges = deg.agg(
        F.sum((F.col("d") * (F.col("d") - 1) / 2).cast("bigint")).alias("n_wedges")
    )
    e1 = canon
    e2 = canon.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = canon.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tri = (
        e1.join(e2, "b")
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        n_edges.crossJoin(F.broadcast(n_wedges)).crossJoin(F.broadcast(tri))
    )


# --- L2/L4: exact threshold similarity join via prefix filtering --------

_PP_T_NUM, _PP_T_DEN = 3, 5  # Jaccard threshold t = 3/5 = 0.6

_PREFIX_PAIRS_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
  WHERE len(string_split(text, ' ')) >= 3
), g AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
  FROM t
), e AS (
  SELECT doc_id, unnest(sh) AS s FROM g
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter_cnt
  FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), sz AS (
  SELECT doc_id, len(sh) AS n FROM g
)
SELECT doc_a, doc_b, CAST(inter_cnt AS BIGINT) AS inter_cnt,
       round(inter_cnt * 1.0 / (sa.n + sb.n - inter_cnt), 6) AS jaccard
FROM inter
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE 8 * inter_cnt >= 3 * (sa.n + sb.n)
"""


@register(
    "neardup_prefix_filter_pairs",
    oracle=_PREFIX_PAIRS_ORACLE,
    tags=("L2", "L4", "ext"),
    bench=True,
)
def neardup_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2/L4: EXACT Jaccard >= 0.6 similarity join via prefix
    filtering (AllPairs/PPJoin — Bayardo et al. 2007, Xiao et al.
    2008): every qualifying pair is found, yet candidates form only
    through each document's RAREST shingles.

    Why this beats the plain shared-shingle join at 100 TB: joining on
    ALL shingles lets one boilerplate shingle shared by a million
    documents contribute 10^12 candidate pairs. Under the canonical
    global order (doc-frequency asc, shingle asc), a pair with
    J >= t MUST share a shingle inside both docs' first
    ``n - ceil(t*n) + 1`` shingles (the prefix-filter lemma), so the
    join runs prefix x prefix — and prefixes are dominated by RARE
    shingles, exactly the ones that cannot fan out. Verification then
    computes the true intersection row-locally (array_intersect on
    the two docs' shingle arrays — no further shuffle fan-out) and
    keeps pairs by the INTEGER test ``8*inter >= 3*(n_a+n_b)``
    (equivalent to J >= 3/5 with zero float-boundary risk; the
    reported jaccard is a single rounded IEEE division, identical in
    both engines).

    Plan: shingle doc-frequency (one shuffle), per-doc canonical rank
    computed ROW-LOCALLY (regroup by doc with NO sort, then
    array_sort the (df, shingle) structs inside codegen and slice the
    prefix before re-exploding — the r9 profile showed the previous
    doc-partitioned rank window's full shuffle+sort of the exploded
    occurrence stream was the dominant cost), prefix x prefix
    equi-join on the shingle, distinct candidate pairs at
    cluster-width partitioning, then two hash joins back to the
    shingle-array table for row-local exact verification. The
    threshold is the knob: higher t -> shorter prefixes -> fewer
    candidates, with exactness ALWAYS preserved — unlike MinHash
    banding (`minhash_lsh_buckets`), which trades recall for the same
    pruning.
    """
    docs = load_spread(spark, sf_dir)
    n_t = F.size(F.split("text", " "))
    shingles = F.array_distinct(trigram_shingles(F.col("text")))
    # coalesce makes n non-nullable: otherwise the downstream join
    # conditions on n infer isnotnull(n), which Catalyst
    # alias-substitutes into the full shingle expression and pushes
    # below the spread_for_compute exchange — re-evaluating the
    # shingle pipeline serially in the single-task scan stage.
    g = docs.filter(n_t >= 3).select(
        "doc_id",
        shingles.alias("sh"),
        F.coalesce(F.size(shingles), F.lit(0)).cast("long").alias("n"),
    )
    return prefix_filtered_jaccard_pairs(g, _PP_T_NUM, _PP_T_DEN)
