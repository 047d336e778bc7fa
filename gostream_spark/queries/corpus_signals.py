"""Corpus-level duplication and fluency signals (L2/L8 extensions).

Two curation signals that need CORPUS-level statistics (unlike the
row-local quality scores in ``llm_text.py``):

- ``dup_ngram_fraction``: per-document fraction of its distinct word
  5-grams that occur in more than one document — the cheap detector
  for boilerplate/templated text popularized by "Deduplicating
  Training Data Makes Language Models Better" (Lee et al., 2021).
- ``unigram_logprob_quality``: per-document average negative log
  probability under the corpus's own unigram model — the classic
  perplexity-proxy filter (high = gibberish/rare-token soup, very
  low = degenerate repetition).

Cross-engine determinism: every corpus-derived float is quantized to
integer micro-units (``floor(1e6 * ln(cnt))``) BEFORE the
order-dependent aggregation, so the shuffled Spark partial sums and
DuckDB's sequential scan add exact integers and agree bit-for-bit
(same discipline as ``text_quality_score``'s basis points).

Scale shape (100 TB documents): both queries are two hash shuffles —
one to build the gram/token frequency table, one to join it back and
re-aggregate per document. Frequency tables are corpus-derived and
therefore NEVER broadcast (VERDICT r4 #3); the join shuffles on the
gram/token hash where Zipf skew is absorbed by AQE skew-join splitting
(pinned for the same shape in tests/test_skew_aqe.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gostream_spark.io import load_spread, load_table
from gostream_spark.registry import register

_NGRAM = 5

_DUP_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), g AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(toks) - 3),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                    || ' ' || toks[i+3] || ' ' || toks[i+4])) AS gram
  FROM t WHERE len(toks) >= 5
), gdf AS (
  SELECT gram, count(*) AS n_docs_with FROM g GROUP BY gram
), per_doc AS (
  SELECT g.doc_id,
         count(*) AS n_grams,
         sum(CASE WHEN gdf.n_docs_with >= 2 THEN 1 ELSE 0 END) AS dup_grams
  FROM g JOIN gdf USING (gram)
  GROUP BY g.doc_id
)
SELECT t.doc_id,
       CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(p.dup_grams, 0) AS BIGINT) AS dup_grams,
       CASE WHEN p.n_grams > 0
            THEN CAST(floor(10000.0 * p.dup_grams / p.n_grams) AS BIGINT)
            END AS dup_bp
FROM t LEFT JOIN per_doc p USING (doc_id)
"""


@register("dup_ngram_fraction", oracle=_DUP_ORACLE, tags=("L2", "L8", "ext"), bench=True)
def dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-5-gram fraction per document, in basis points.

    A document whose word 5-grams mostly also appear in OTHER
    documents is boilerplate (licence headers, templated pages) even
    when no single document is its exact duplicate — the signal exact
    dedup (L1) and MinHash (L2) both miss. Distinct grams per doc, so
    a doc repeating its own phrase is not self-penalized.

    Plan (r16 singleton-ownership form): explode distinct grams
    (map-side), ONE corpus-scale shuffle aggregating (count, min
    owner) per gram class, a vocabulary-scale re-aggregate of the
    singleton classes to per-doc unique counts, and a doc-scale left
    join onto the spine (which carries the row-local n_grams);
    dup_grams = n_grams - n_uniq. The old join of the full gram
    stream back onto the frequency table is gone — see the in-body
    note. The one remaining corpus-scale exchange shuffles the 8-byte
    xxhash64 key of the gram, not the ~40-60-byte gram string (the
    ``docs_dedup_digest`` discipline; collision bound in the
    gram-key note below). ``floor`` of a single exact-dividend
    IEEE division keeps the ratio integer-deterministic across
    engines."""
    docs = load_spread(spark, sf_dir).select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    n = F.size("toks")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), n - _NGRAM),
            lambda i: F.concat_ws(" ", F.slice("toks", i + 1, _NGRAM)),
        )
    )
    # explode_outer + non-nullable key (r10, same pathology as
    # operators/prefix_join): plain explode would infer size(grams)>0
    # below the spread exchange (serial gram re-eval in the scan
    # task), and a nullable key would make Catalyst infer an
    # isnotnull(<key>) filter that computes every digest TWICE;
    # xxhash64 is never null.
    # Gram key — per-operator collision POLICY (PERF.md §digest):
    # xxhash64 (8-byte key, codegen'd, allocation-free) is right HERE
    # because this operator emits a per-doc STATISTIC, not a removal
    # decision: a 64-bit collision merges two gram classes and inflates
    # dup_bp of the affected docs by at most one gram each. Honest
    # bound, at the engine's own design scales: the birthday expectation
    # is n^2/2^65 colliding PAIRS — ~0.03 at 10^9 distinct grams, ~300
    # at 10^11, ~3e6 at 10^13 — i.e. at the 100 TB point a few
    # parts-per-10^7 of gram classes are merged, which moves dup_bp (a
    # floor to basis points over thousands of grams per doc) by 0 for
    # virtually every document. That error is accepted for the
    # half-width exchange key. The SAME key is NOT acceptable where a
    # collision deletes data — exact_substr_dedup's removal pass uses a
    # 128-bit two-seed key (policy note at its gram key, corpus_ops.py).
    g = (
        docs.filter(n >= _NGRAM)
        .select("doc_id", F.explode_outer(grams).alias("gram_str"))
        .filter(F.col("gram_str").isNotNull())
        .select("doc_id", F.xxhash64("gram_str").alias("gram"))
    )
    # r16 singleton-ownership rewrite (guide §2.3/§2.4): dup_grams ==
    # n_grams - (# grams UNIQUE corpus-wide that this doc owns), so the
    # join of the FULL gram stream back onto the gram-frequency table —
    # the old plan's second and third gram-scale exchanges — is
    # unnecessary. One aggregate over the gram stream carries (count,
    # min owner) per gram class (both partial-aggregable: a viral
    # boilerplate gram still collapses map-side, no skew-join needed
    # because there is no longer any join keyed on the gram); the
    # singleton classes — one ROW per class, bounded by vocabulary, not
    # corpus — re-aggregate to per-doc unique-gram counts; n_grams is
    # row-local (size of the distinct-gram array). Exact under hash
    # collisions too: a collision merges two classes in BOTH
    # formulations identically (count>=2 ⇒ every merged occurrence was
    # dup-counted before, and none is singleton-owned now). Measured
    # at sf0.1 (interleaved best-of-5): 1.425 s vs 1.543 s, with the
    # gram-stream join-back exchange gone from the plan (3 gram-scale
    # exchanges → 1).
    gdf = g.groupBy("gram").agg(
        F.count(F.lit(1)).alias("n_docs_with"), F.min("doc_id").alias("owner")
    )
    uniq = (
        gdf.filter(F.col("n_docs_with") == 1)
        .groupBy(F.col("owner").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_uniq"))
    )
    spine = docs.select(
        "doc_id",
        F.when(n >= _NGRAM, F.coalesce(F.size(grams), F.lit(0)))
        .otherwise(0)
        .alias("n_grams"),
    )
    return spine.join(uniq, "doc_id", "left").select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        (F.col("n_grams") - F.coalesce("n_uniq", F.lit(0)))
        .cast("long")
        .alias("dup_grams"),
        F.when(
            F.col("n_grams") > 0,
            F.floor(
                10000.0
                * (F.col("n_grams") - F.coalesce("n_uniq", F.lit(0)))
                / F.col("n_grams")
            ).cast("bigint"),
        ).alias("dup_bp"),
    )


_NLL_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), freq AS (
  SELECT token, count(*) AS cnt FROM tok GROUP BY token
), tot AS (
  SELECT count(*) AS total FROM tok
), per AS (
  SELECT tok.doc_id, CAST(floor(1e6 * ln(freq.cnt)) AS BIGINT) AS lp_micro
  FROM tok JOIN freq USING (token)
)
SELECT doc_id,
       count(*) AS n_tokens,
       round(ln((SELECT total FROM tot))
             - CAST(sum(lp_micro) AS DOUBLE) / count(*) / 1e6, 4) AS avg_nll
FROM per GROUP BY doc_id
"""


@register("unigram_logprob_quality", oracle=_NLL_ORACLE, tags=("L7", "L8", "ext"))
def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average negative log-likelihood per document under the
    corpus-estimated unigram model: avg_nll = ln(N) - mean(ln cnt(t)).

    The standard perplexity-proxy quality gate when no external LM is
    available: rare-token soup scores high, degenerate repetition
    scores near ln(N/cnt_max). Two hash shuffles (frequency build,
    join-back + per-doc agg); the frequency table is corpus-derived so
    it shuffles rather than broadcasts. Each token's ln(cnt) is
    floored to integer micro-nats BEFORE the per-doc sum, so the sum
    is exact-integer and immune to partial-aggregation order; only the
    final two-term expression is float, rounded at 4 decimals."""
    tok = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    )
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = tok.agg(F.count(F.lit(1)).alias("total"))  # 1-row dim: broadcast-safe
    per = tok.join(freq, "token").select(
        "doc_id", F.floor(1e6 * F.log(F.col("cnt"))).cast("bigint").alias("lp_micro")
    )
    return (
        per.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("lp_micro").alias("s_micro"))
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.log(F.col("total").cast("double"))
                - F.col("s_micro").cast("double") / F.col("n_tokens") / 1e6,
                4,
            ).alias("avg_nll"),
        )
    )


# --- Linear quality classifier scored with built-ins --------------------

_CLS_ORACLE = """
WITH feat AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS n_tok,
         len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a')))
           AS n_stop,
         len(list_distinct(string_split(text, ' '))) AS n_distinct
  FROM documents
), scored AS (
  SELECT doc_id,
         -1.5
         + 0.02 * least(n_tok, 200)
         + 2.0 * (CAST(n_distinct AS DOUBLE) / n_tok)
         - 3.0 * (CAST(n_stop AS DOUBLE) / n_tok) AS z
  FROM feat
)
SELECT doc_id,
       round(1.0 / (1.0 + exp(-z)), 4) AS p_keep,
       CASE WHEN 1.0 / (1.0 + exp(-z)) >= 0.5 THEN 'keep' ELSE 'drop' END
         AS decision
FROM scored
"""


@register("quality_classifier_score", oracle=_CLS_ORACLE, tags=("L8", "ext"))
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model inference with BUILT-INS: a (toy-weighted) logistic
    quality classifier — the fasttext-style keep/drop gate every
    training-data pipeline runs — computed as one row-local
    expression: fixed literal weights, three cheap features, sigmoid
    via exp. No UDF, no model server: whole-stage codegen scores
    100 TB at scan speed, and swapping trained weights is a literal
    change. The keep threshold tests the UNROUNDED sigmoid on both
    engines (z at the 0.5 boundary means z = 0 exactly — impossible
    for these rational features with irrational weights... which is
    why the weights avoid ratios that cancel: decision flips need
    |z| < 1e-15)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    n_tok = F.size("toks")
    n_stop = F.size(F.filter("toks", lambda t: t.isin("the", "a")))
    n_distinct = F.size(F.array_distinct("toks"))
    z = (
        F.lit(-1.5)
        + 0.02 * F.least(n_tok, F.lit(200))
        + 2.0 * (n_distinct.cast("double") / n_tok)
        - 3.0 * (n_stop.cast("double") / n_tok)
    )
    p = 1.0 / (1.0 + F.exp(-z))
    return docs.select(
        "doc_id",
        F.round(p, 4).alias("p_keep"),
        F.when(p >= 0.5, "keep").otherwise("drop").alias("decision"),
    )


# --- Source-vs-corpus KL divergence -------------------------------------

_KL_ORACLE = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
), st AS (
  SELECT source, token, count(*) AS cnt_s FROM tok GROUP BY 1, 2
), ct AS (
  SELECT token, count(*) AS cnt FROM tok GROUP BY 1
), stot AS (
  SELECT source, sum(cnt_s) AS tot_s FROM st GROUP BY 1
), tot AS (
  SELECT sum(cnt) AS tot FROM ct
), terms AS (
  SELECT st.source,
         CAST(floor(1e9 * (CAST(cnt_s AS DOUBLE) / tot_s)
                        * ln(CAST(cnt_s * tot AS DOUBLE) / (cnt * tot_s)))
              AS BIGINT) AS t_nano
  FROM st JOIN ct USING (token) JOIN stot USING (source) CROSS JOIN tot
)
SELECT source,
       count(*) AS n_types,
       round(CAST(sum(t_nano) AS DOUBLE) / 1e9, 4) AS kl_nats
FROM terms GROUP BY source
"""


@register(
    "source_kl_divergence", oracle=_KL_ORACLE, tags=("L8", "A1", "ext"), bench=True
)
def source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-drift gate: KL(P_source ‖ P_corpus) over unigram
    distributions — the per-source divergence that flags a source
    whose token mix departs from the pool (dominant boilerplate, new
    language, template flood). Support(P_source) ⊆ support(P_corpus)
    by construction, so plain KL is finite without smoothing. Each
    term is floored to integer nano-nats BEFORE summing (the
    ``unigram_logprob_quality`` discipline): the per-source sum is
    exact-integer, order-proof; the probability ratio feeding ln is
    one division of exact sub-2^53 integer products, identical on
    both engines.

    r16 single-pass rewrite (guide §2.3 "aggregate before you
    shuffle"): the corpus-wide token counts are the SUM over sources
    of the per-source counts, so the second full token explode +
    token-keyed shuffle of the old plan is unnecessary — ``ct``,
    ``stot`` and ``tot`` all derive from ``st``, whose cardinality is
    |source|×|vocab| (vocabulary-bounded at ANY corpus size, never
    corpus rows). Because three consumers read ``st`` and Spark's
    exchange reuse does not fire across differently-keyed aggregates,
    ``st`` is materialized once with an eager ``localCheckpoint`` —
    legitimate precisely because it is vocabulary-bounded (the same
    reason the old plan could afford to shuffle it); the corpus is
    now scanned and exploded exactly ONCE per run. Measured at sf0.1
    (interleaved best-of-4): 0.884 s vs 1.630 s, and the plan drops
    from 6 exchanges / 2 corpus explodes to 1 corpus explode."""
    tok = load_table(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("token")
    )
    st = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("cnt_s"))
    st = st.localCheckpoint(eager=True)
    ct = st.groupBy("token").agg(F.sum("cnt_s").alias("cnt"))
    stot = st.groupBy("source").agg(F.sum("cnt_s").alias("tot_s"))
    tot = ct.agg(F.sum("cnt").alias("tot"))  # 1-row dim
    ratio = (F.col("cnt_s") * F.col("tot")).cast("double") / (
        F.col("cnt") * F.col("tot_s")
    )
    t_nano = F.floor(
        1e9 * (F.col("cnt_s").cast("double") / F.col("tot_s")) * F.log(ratio)
    ).cast("long")
    terms = (
        st.join(ct, "token")
        .join(F.broadcast(stot), "source")
        .crossJoin(F.broadcast(tot))
        .select("source", t_nano.alias("t_nano"))
    )
    return terms.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.round(F.sum("t_nano").cast("double") / 1e9, 4).alias("kl_nats"),
    )


# --- Zipf slope per language --------------------------------------------

_ZIPF_ORACLE = """
WITH tok AS (
  SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
), freq AS (
  SELECT lang, token, count(*) AS cnt FROM tok GROUP BY 1, 2
), ranked AS (
  SELECT lang, cnt,
         row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS r
  FROM freq
), pts AS (
  SELECT lang,
         CAST(floor(1e6 * ln(CAST(r AS DOUBLE))) AS BIGINT) AS x,
         CAST(floor(1e6 * ln(CAST(cnt AS DOUBLE))) AS BIGINT) AS y
  FROM ranked WHERE r <= 1000
), s AS (
  SELECT lang, count(*) AS n,
         CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
         CAST(sum(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
         CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
         CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx
  FROM pts GROUP BY 1
)
SELECT lang, CAST(n AS BIGINT) AS n_points,
       round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
             4) AS zipf_slope
FROM s
"""


@register("zipf_slope_by_lang", oracle=_ZIPF_ORACLE, tags=("L8", "L6", "ext"))
def zipf_slope_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law slope per language: OLS fit of ln(freq) on ln(rank)
    over the top-1000 vocabulary head — the corpus-naturalness
    diagnostic (natural language sits near −1; template floods and
    word soup flatten it). Log points are floored to integer
    micro-nats before the moment sums, which accumulate as
    DECIMAL(38,0) (exact at any vocabulary size); the slope is one
    double expression. The rank window partitions by lang over the
    VOCABULARY table (bounded by distinct types, not corpus rows), so
    the sort never sees fact-scale data."""
    tok = load_table(spark, sf_dir, "documents").select(
        "lang", F.explode(F.split("text", " ")).alias("token")
    )
    freq = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("cnt"))
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("token"))
    pts = (
        freq.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 1000)
        .select(
            "lang",
            F.floor(1e6 * F.log(F.col("r").cast("double"))).cast("long").alias("x"),
            F.floor(1e6 * F.log(F.col("cnt").cast("double"))).cast("long").alias("y"),
        )
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = pts.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    den = F.col("n") * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    return s.select(
        "lang",
        F.col("n").alias("n_points"),
        F.round(num / den, 4).alias("zipf_slope"),
    )


# --- DSIR hashed-ngram importance weights (Xie et al. 2023) -------------

_DSIR_BUCKETS = 64
_TARGET_SOURCES = "('src0','src1','src2','src3','src4')"

_DSIR_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(t.tok), 1, 8)) AS BIGINT) % {_DSIR_BUCKETS}
           AS bucket
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
), stats AS (
  SELECT bucket,
         1 + count(*) FILTER (WHERE source IN {_TARGET_SOURCES}) AS cnt_t,
         1 + count(*) FILTER (WHERE source NOT IN {_TARGET_SOURCES}) AS cnt_r
  FROM toks GROUP BY bucket
), totals AS (
  SELECT sum(cnt_t) AS n_t, sum(cnt_r) AS n_r FROM stats
), weights AS (
  SELECT bucket,
         (CAST(floor(1e6 * ln(cnt_t)) AS BIGINT)
          - CAST(floor(1e6 * ln(n_t)) AS BIGINT)
          - CAST(floor(1e6 * ln(cnt_r)) AS BIGINT)
          + CAST(floor(1e6 * ln(n_r)) AS BIGINT)) AS w_u
  FROM stats, totals
), doc_scores AS (
  SELECT t.doc_id, t.source,
         CAST(sum(w.w_u) AS BIGINT) AS importance_u,
         CAST(count(*) AS BIGINT) AS n_tokens
  FROM toks t JOIN weights w USING (bucket)
  WHERE t.source NOT IN {_TARGET_SOURCES}
  GROUP BY t.doc_id, t.source
)
SELECT source, doc_id, importance_u, n_tokens FROM (
  SELECT source, doc_id, importance_u, n_tokens,
         row_number() OVER (PARTITION BY source
                            ORDER BY importance_u DESC, doc_id) AS rn
  FROM doc_scores) WHERE rn = 1
"""


@register("dsir_importance_weights", oracle=_DSIR_ORACLE, tags=("L8", "F7", "A1", "ext"), bench=True)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023, arXiv:2302.03169): score raw-corpus documents by a hashed
    n-gram importance weight log p_target(x) - p_raw(x) under
    bag-of-hashed-features models, then sample by weight. Here:
    whitespace unigrams hashed to 64 buckets via md5 (the
    repo's cross-engine hash), add-one smoothed counts from the
    target (src0-4) vs raw (rest) partitions, per-bucket weight
    w = ln(cnt_t/N_t) - ln(cnt_r/N_r) quantized term-by-term to
    integer micro-units from INTEGER counts (the module's established
    ln-quantization discipline, so both engines sum exact integers),
    per-doc importance = Σ w over token occurrences, and the
    top-importance doc per raw source as the selection preview.

    Scale shape: the bucket-stats table is 64 rows —
    genuinely bounded, so it BROADCASTS back onto the token stream
    (unlike the corpus-derived frequency tables above, whose
    cardinality grows with the corpus and must shuffle); the rest is
    one explode scan + one doc_id aggregate + one per-source top-1."""
    docs = load_table(spark, sf_dir, "documents")
    is_target = F.col("source").isin("src0", "src1", "src2", "src3", "src4")
    # Non-nullable bucket (dead coalesce arm — split elements are never
    # null): otherwise the broadcast join infers isnotnull(bucket) and
    # evaluates the per-token md5 a second time inside the inferred
    # filter (r10 registry audit).
    toks = docs.select(
        "doc_id",
        "source",
        F.explode(F.split(F.col("text"), " ")).alias("tok"),
    ).select(
        "doc_id",
        "source",
        F.coalesce(
            F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast(
                "long"
            )
            % _DSIR_BUCKETS,
            F.lit(0),
        ).alias("bucket"),
    )
    stats = toks.groupBy("bucket").agg(
        (1 + F.count(F.when(is_target, 1))).alias("cnt_t"),
        (1 + F.count(F.when(~is_target, 1))).alias("cnt_r"),
    )
    # r16 (guide §2.4): the totals used to be a SEPARATE aggregate over
    # stats — and because stats was referenced twice (totals + the
    # weights crossJoin), the whole token explode + md5 pipeline ran a
    # THIRD time to rebuild it (3 corpus passes in the before-plan).
    # The grand totals are now window sums OVER the stats frame itself:
    # the frame is hard-bounded at 64 rows (the bucket domain), so the
    # single-group window is safe at any corpus size — same
    # constant-partition idiom as operators/ranking.topk_ranked, and
    # the same integer sums, bit-for-bit. 3 explode passes -> 2.
    w0 = Window.partitionBy(F.spark_partition_id() * F.lit(0))
    q = lambda c: F.floor(1e6 * F.log(c)).cast("long")  # noqa: E731
    weights = stats.select(
        "bucket",
        "cnt_t",
        "cnt_r",
        F.sum("cnt_t").over(w0).alias("n_t"),
        F.sum("cnt_r").over(w0).alias("n_r"),
    ).select(
        "bucket",
        (q(F.col("cnt_t")) - q(F.col("n_t")) - q(F.col("cnt_r")) + q(F.col("n_r")))
        .alias("w_u"),
    )
    doc_scores = (
        toks.filter(~is_target)
        .join(F.broadcast(weights), "bucket")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("w_u").cast("long").alias("importance_u"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
        )
    )
    # r16: per-source top-1 as a partial-aggregable min(struct) — the
    # struct sorts by (-importance, doc_id), so the minimum is exactly
    # the (importance DESC, doc_id ASC) row_number()==1 row of the old
    # sort window, but the per-source extreme now collapses MAP-SIDE
    # instead of sort-shuffling every doc score to one reducer per
    # source (guide §2.3 "aggregate before you shuffle"; a window
    # cannot partial-aggregate). Measured at sf0.1: 1.153 s -> 0.959 s;
    # plan: Exchange+Sort+Window -> partial/final HashAggregate.
    # Negation is safe: importance_u is a sum of |w_u| <= ~1e7 terms
    # over < 2^40 tokens, far inside long range.
    return (
        doc_scores.groupBy("source")
        .agg(
            F.min(
                F.struct(
                    (-F.col("importance_u")).alias("ni"),
                    F.col("doc_id").alias("doc_id"),
                    F.col("importance_u").alias("imp"),
                    F.col("n_tokens").alias("nt"),
                )
            ).alias("s")
        )
        .select(
            "source",
            F.col("s.doc_id").alias("doc_id"),
            F.col("s.imp").alias("importance_u"),
            F.col("s.nt").alias("n_tokens"),
        )
    )


# --- CCNet-style per-language perplexity buckets ------------------------

_CCNET_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), freq AS (
  SELECT token, count(*) AS cnt FROM tok GROUP BY token
), per AS (
  SELECT tok.doc_id,
         count(*) AS n_tokens,
         sum(CAST(floor(1e6 * ln(freq.cnt)) AS BIGINT)) AS s_micro
  FROM tok JOIN freq USING (token) GROUP BY tok.doc_id
), scored AS (
  SELECT d.lang, per.doc_id, per.n_tokens,
         -- integer mean micro log-count: LOW = rare-token soup (high
         -- nll), HIGH = fluent/common tokens. Pure integer division,
         -- no float anywhere in the ordering key.
         per.s_micro // per.n_tokens AS mean_micro
  FROM per JOIN documents d USING (doc_id)
), bucketed AS (
  SELECT lang, n_tokens,
         ntile(3) OVER (PARTITION BY lang
                        ORDER BY mean_micro DESC, doc_id) AS b
  FROM scored
)
SELECT lang,
       CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
         AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS token_mass
FROM bucketed GROUP BY lang, b
"""


@register("ccnet_perplexity_buckets", oracle=_CCNET_ORACLE, tags=("L8", "L7", "W1", "ext"))
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail bucketing (Wenzek et al. 2020,
    arXiv:1911.00359): per language, rank documents by LM score and
    split into terciles — head (most fluent) feeds training first,
    tail gets dropped or down-weighted. The LM here is the corpus's
    own unigram model (`unigram_logprob_quality`); the ranking key is
    the per-doc INTEGER mean of micro-quantized ln(count) — mean log
    count DESC equals NLL ASC — so the tercile boundary is integer
    arithmetic on both engines and cannot be split by a float ulp.
    Shape: the two corpus shuffles of the NLL query, one lang window
    for the terciles, one tiny final aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    per = (
        tok.join(freq, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.floor(1e6 * F.log(F.col("cnt"))).cast("bigint")
            ).alias("s_micro"),
        )
    )
    scored = per.join(docs.select("doc_id", "lang"), "doc_id").select(
        "lang",
        "doc_id",
        "n_tokens",
        F.expr("s_micro div n_tokens").alias("mean_micro"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("mean_micro").desc(), F.col("doc_id")
    )
    bucketed = scored.select(
        "lang", "n_tokens", F.ntile(3).over(w).alias("b")
    )
    return bucketed.groupBy(
        "lang",
        F.when(F.col("b") == 1, "head")
        .when(F.col("b") == 2, "middle")
        .otherwise("tail")
        .alias("bucket"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("token_mass"),
    )
