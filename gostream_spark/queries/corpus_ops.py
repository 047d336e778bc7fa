"""Training-data corpus-curation operators (SURVEY.md §2.8 extensions):
benchmark decontamination, Gopher-style repetition quality rules,
deterministic stratified sampling, sharded global shuffle order, and
per-source token budgets — the standard pre-training pipeline stages
between "raw crawl" and "training mix".

Scale shapes (the design constraint for every op here):
- decontamination joins the corpus's n-grams against a *benchmark*
  n-gram set; benchmark suites are tiny relative to a 100 TB corpus,
  so the bench side broadcasts and the corpus side never shuffles.
- the quality rules are pure row-local expressions (HOF run-length
  over a sorted token array — zero shuffles, whole-stage codegen).
- sampling is a deterministic hash filter — row-local, no shuffle,
  reproducible across runs/engines (md5, not rand()).
- shuffle-order assigns (shard, pos) with a window partitioned by
  shard: each shard sorts independently (one reducer per shard ==
  one training file per shard); no global single-task sort.
- token budgets are a per-source cumulative-sum window; source
  cardinality is small (thousands), far below reducer count only in
  degenerate cases — skewed giant sources would salt by doc-range.

Public lineage: repetition/quality gates follow the MassiveText
rules (Rae et al., "Scaling Language Models: ... Gopher", 2021,
§A1.1) and the C4 cleanup family (Raffel et al., 2020); benchmark
n-gram decontamination follows the overlap procedures described for
GPT-2/GPT-3 and The Pile (Radford et al. 2019; Brown et al. 2020,
§4; Gao et al. 2020).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gostream_spark.functions.sketches import md5_hex_digit, top_token_run_max
from gostream_spark.io import load_spread, load_table
from gostream_spark.registry import register

def _word_ngrams(toks: Column, n: int) -> Column:
    """Word n-grams of a token array as space-joined strings (empty
    array when the doc has fewer than n tokens)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


# --- benchmark decontamination ------------------------------------------

_DECON_N = 4

_DECON_ORACLE = f"""
WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT doc_id, source,
         unnest(list_transform(range(len(t) - {_DECON_N - 1}),
                               i -> array_to_string(t[i+1:i+{_DECON_N}], ' '))) AS g
  FROM toks),
bench AS (SELECT DISTINCT g FROM grams WHERE source = 'src0')
SELECT doc_id, source, count(DISTINCT g) AS shared_grams
FROM grams
WHERE source <> 'src0' AND g IN (SELECT g FROM bench)
GROUP BY doc_id, source
"""


@register("decontaminate_ngrams", oracle=_DECON_ORACLE, tags=("L2", "ext"))
def decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    word 4-gram with the benchmark set (here: the ``src0`` slice plays
    the held-out eval suite). The returned rows are the contaminated
    docs with their shared-gram counts; the training mix is the
    anti-join complement.

    100 TB shape: the benchmark n-gram set is tiny (eval suites are
    MBs), so it broadcasts; the corpus side is explode → broadcast
    hash join → per-doc count — no corpus shuffle except the final
    per-doc aggregate, which AQE coalesces to the match count
    (contamination is rare by construction)."""
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id",
        "source",
        F.explode(_word_ngrams(F.split("text", " "), _DECON_N)).alias("g"),
    )
    bench = (
        grams.filter(F.col("source") == "src0").select("g").distinct()
    )
    return (
        grams.filter(F.col("source") != "src0")
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id", "source")
        .agg(F.count_distinct("g").alias("shared_grams"))
    )


# --- Gopher-style repetition quality rules ------------------------------

_QUALITY_ORACLE = """
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents),
cnt AS (SELECT doc_id, tk, count(*) AS c FROM tok GROUP BY 1, 2),
agg AS (SELECT doc_id, max(c) AS maxc, sum(c) AS n, count(*) AS ndist
        FROM cnt GROUP BY 1)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_tokens,
       CAST(10000 * maxc // n AS BIGINT) AS top_token_bp,
       CAST(10000 * ndist // n AS BIGINT) AS distinct_bp,
       (10000 * maxc // n <= 2000 AND 10000 * ndist // n >= 4000) AS quality_pass
FROM agg
"""


@register("quality_repetition_rules", oracle=_QUALITY_ORACLE, tags=("L8", "ext"))
def quality_repetition_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality rules (the Gopher/MassiveText family):
    per-doc top-token fraction and distinct-token ratio, in integer
    basis points (integer `div` — float-free, cross-engine exact),
    plus the pass/fail gate (top-token ≤ 20%, distinct ≥ 40%).

    Row-local and shuffle-free: the per-doc top-token count is a
    run-length maximum over the *sorted* token array via one
    ``F.aggregate`` HOF — no explode, no groupBy, whole-stage codegen
    end to end. The oracle computes the same numbers the relational
    way (unnest → two aggregates); agreement certifies the HOF."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    maxc = top_token_run_max(toks)
    base = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        maxc.cast("long").alias("maxc"),
        F.size(F.array_distinct(toks)).cast("long").alias("ndist"),
    )
    return base.select(
        "doc_id",
        "n_tokens",
        F.expr("10000 * maxc div n_tokens").alias("top_token_bp"),
        F.expr("10000 * ndist div n_tokens").alias("distinct_bp"),
        F.expr(
            "10000 * maxc div n_tokens <= 2000 AND 10000 * ndist div n_tokens >= 4000"
        ).alias("quality_pass"),
    )


# --- deterministic stratified sampling ----------------------------------

_SAMPLE_ORACLE = """
WITH hashed AS (
  SELECT source,
         len(string_split(text, ' ')) AS n_tokens,
         instr('0123456789abcdef',
               substr(md5(CAST(doc_id AS VARCHAR) || ':' || source), 1, 1)) - 1
           AS hv,
         CASE WHEN CAST(substr(source, 4) AS INT) < 5 THEN 16
              WHEN CAST(substr(source, 4) AS INT) < 15 THEN 8
              ELSE 2 END AS keep_below
  FROM documents)
SELECT source,
       count(*) AS kept_docs,
       CAST(sum(n_tokens) AS BIGINT) AS kept_tokens
FROM hashed WHERE hv < keep_below
GROUP BY source
"""


@register("sample_stratified", oracle=_SAMPLE_ORACLE, tags=("L8", "ext"))
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for mix construction:
    per-source keep rates (src0-4 → 100%, src5-14 → 50%, rest →
    12.5%) applied via an md5 hash bucket of (doc_id, source) — NOT
    ``rand()``, so the sample is reproducible run-to-run, engine-to-
    engine, and under any re-partitioning. Returns the per-source kept
    doc/token totals (the numbers a mix designer iterates on).

    Row-local filter + one small aggregate; the 100 TB cost is one
    corpus scan. ``sampleBy`` would give the same rates but not
    determinism across engines."""
    docs = load_table(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 9).cast("int")
    keep_below = (
        F.when(src_num < 5, F.lit(16)).when(src_num < 15, F.lit(8)).otherwise(F.lit(2))
    )
    hv = md5_hex_digit(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("source")), 1)
    return (
        docs.filter(hv < keep_below)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("kept_docs"),
            F.sum(F.size(F.split("text", " "))).cast("long").alias("kept_tokens"),
        )
    )


# --- sharded global shuffle order ---------------------------------------

_SHARDS = 8

_SHUFFLE_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id,
         (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
           % {_SHARDS} AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS ord_key
  FROM documents)
SELECT doc_id, shard,
       row_number() OVER (PARTITION BY shard ORDER BY ord_key, doc_id) AS pos
FROM keyed
"""


@register("corpus_shuffle_order", oracle=_SHUFFLE_ORACLE, tags=("W6", "ext"))
def corpus_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle order for training: every doc gets
    a (shard, pos) address — shard = hash bucket, pos = rank of the
    doc's md5 within the shard. Reading shards in order yields a
    reproducible pseudo-random permutation of the corpus (the
    training-loader contract) without ever globally sorting it.

    100 TB shape: the window partitions BY SHARD, so each shard ranks
    independently on its own reducer and writes its own file — with
    shards sized to taste (4096 at cluster scale; {_SHARDS} here to
    keep the fixture interesting) there is no single-task global sort
    anywhere. Contrast W6's ``sort_multi_key``, which is top-k and so
    uses TakeOrdered instead."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.col("doc_id").cast("string"))
    keyed = docs.select(
        "doc_id",
        (md5_hex_digit(F.col("doc_id").cast("string"), 1) % _SHARDS).alias("shard"),
        key.alias("ord_key"),
    )
    w = Window.partitionBy("shard").orderBy("ord_key", "doc_id")
    return keyed.select(
        "doc_id", "shard", F.row_number().over(w).alias("pos")
    )


# --- per-source token budgets -------------------------------------------

_BUDGET = 1500

_BUDGET_ORACLE = f"""
WITH sized AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
  FROM documents),
cum AS (
  SELECT doc_id, source, n_tokens,
         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM sized)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM cum WHERE cum_tokens <= {_BUDGET}
"""


@register("token_budget_per_source", oracle=_BUDGET_ORACLE, tags=("L8", "ext"))
def token_budget_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token budget enforcement: admit docs in priority
    order (doc_id) until each source's cumulative token count exceeds
    {_BUDGET}. The cumulative sum is an integer running window per
    source — exact, order-deterministic, one shuffle on the source
    key. A pathologically large single source would salt the window
    by doc-range and stitch ranges with a per-range offset join."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", "source", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return sized.withColumn("cum_tokens", F.sum("n_tokens").over(w)).filter(
        F.col("cum_tokens") <= _BUDGET
    )


# --- blocklist scrub / redaction ----------------------------------------

_SCRUB_TERMS = ("value", "key")

_SCRUB_ORACLE = """
WITH scrubbed AS (
  SELECT doc_id, source,
         array_to_string(
           list_transform(string_split(text, ' '),
                          t -> CASE WHEN t IN ('value', 'key')
                                    THEN '[REDACTED]' ELSE t END),
           ' ') AS red_text,
         len(list_filter(string_split(text, ' '),
                         t -> t IN ('value', 'key'))) AS n_redacted
  FROM documents)
SELECT doc_id, source, md5(red_text) AS redacted_md5,
       CAST(n_redacted AS BIGINT) AS n_redacted
FROM scrubbed WHERE n_redacted > 0
"""


@register("scrub_blocklist", oracle=_SCRUB_ORACLE, tags=("L8", "ext"))
def scrub_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist scrub — the PII/secret-redaction stage shape: replace
    blocklisted terms with a redaction marker, count replacements,
    return the affected docs (identified by the md5 of the scrubbed
    text, proving the rewritten CONTENT matches cross-engine, not
    just the counts). Token-level replacement via an array transform
    — exact in both engines, where regex word boundaries can differ.
    Row-local; one corpus scan, no shuffle before the implicit
    collect. In production the blocklist term set broadcasts
    (array_contains against a broadcast literal array) and the regex
    variants (emails, phone numbers) run in the same row-local
    stage."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    red = F.array_join(
        F.transform(
            toks,
            lambda t: F.when(t.isin(*_SCRUB_TERMS), F.lit("[REDACTED]")).otherwise(t),
        ),
        " ",
    )
    n_red = F.size(F.filter(toks, lambda t: t.isin(*_SCRUB_TERMS)))
    return (
        docs.select(
            "doc_id",
            "source",
            F.md5(red).alias("redacted_md5"),
            n_red.cast("long").alias("n_redacted"),
        )
        .filter(F.col("n_redacted") > 0)
    )


# --- end-to-end training-mix build --------------------------------------

_MIX_ORACLE = """
WITH toks AS (
  SELECT doc_id, source, lang, string_split(text, ' ') AS t FROM documents),
tok AS (SELECT doc_id, unnest(t) AS tk FROM toks),
cnt AS (SELECT doc_id, tk, count(*) AS c FROM tok GROUP BY 1, 2),
rep AS (SELECT doc_id, max(c) AS maxc, sum(c) AS n, count(*) AS ndist
        FROM cnt GROUP BY 1),
qual AS (
  SELECT t.doc_id, t.source, CAST(r.n AS BIGINT) AS n_tokens
  FROM toks t JOIN rep r USING (doc_id)
  WHERE t.lang IN ('en', 'de')
    AND 10000 * r.maxc // r.n <= 2500
    AND 10000 * r.ndist // r.n >= 3500),
grams AS (
  SELECT doc_id, source,
         unnest(list_transform(range(len(t) - 3),
                               i -> array_to_string(t[i+1:i+4], ' '))) AS g
  FROM toks),
bench AS (SELECT DISTINCT g FROM grams WHERE source = 'src0'),
contaminated AS (
  SELECT DISTINCT doc_id FROM grams WHERE g IN (SELECT g FROM bench)),
decon AS (
  SELECT * FROM qual
  WHERE source <> 'src0'
    AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
sampled AS (
  SELECT * FROM decon
  WHERE instr('0123456789abcdef',
              substr(md5(CAST(doc_id AS VARCHAR) || ':' || source), 1, 1)) - 1
        < CASE WHEN CAST(substr(source, 4) AS INT) < 5 THEN 16
               WHEN CAST(substr(source, 4) AS INT) < 15 THEN 8
               ELSE 2 END),
budget AS (
  SELECT doc_id, source, n_tokens,
         sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM sampled)
SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM budget WHERE cum <= 2500
GROUP BY source
"""


@register("training_mix_pipeline", oracle=_MIX_ORACLE, tags=("L8", "ext"), bench=True)
def training_mix_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone: a full training-mix build composed from the
    stage operators above, in ONE declarative plan — lang filter →
    repetition quality gate → benchmark decontamination (anti-join) →
    deterministic stratified sampling → per-source token budget →
    mix summary. What a 100 TB corpus build actually runs, end to
    end.

    Plan shape (verified in the physical plan): the lang filter and
    the quality-gate HOF fuse into the main scan's Filter; sampling
    is row-local in the same stage; decontamination is a broadcast
    anti-join against the (tiny) contaminated-id set; the only
    main-branch shuffles are the budget window (by source) and the
    final aggregate. The corpus is read twice total — once pruned to
    (doc_id, text) to find contamination candidates, once for the
    mix build — and the benchmark branch's scan prunes to the src0
    slice (filter pushed). At 100 TB the candidate pass is the
    standard pre-pass; its output (contaminated ids) is small enough
    to broadcast by construction."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    maxc = top_token_run_max(toks)
    base = docs.select(
        "doc_id",
        "source",
        "lang",
        "text",
        F.size(toks).cast("long").alias("n_tokens"),
        maxc.cast("long").alias("maxc"),
        F.size(F.array_distinct(toks)).cast("long").alias("ndist"),
    )
    qual = base.filter(
        F.col("lang").isin("en", "de")
        & F.expr("10000 * maxc div n_tokens <= 2500")
        & F.expr("10000 * ndist div n_tokens >= 3500")
    )

    grams = docs.select(
        "doc_id",
        "source",
        "lang",
        F.explode(_word_ngrams(F.split("text", " "), 4)).alias("g"),
    )
    bench = grams.filter(F.col("source") == "src0").select("g").distinct()
    # Probe-side pruning (r16 tightened): only docs that can reach the
    # anti-join need contamination ids, and the anti-join's left side
    # is `qual` — so the probe can apply the FULL quality gate, not
    # just the lang filter. A doc failing the repetition/distinctness
    # gates is dropped by `qual` regardless of contamination, so its
    # grams never need to be exploded or joined. Same final result
    # (verified output-equal); measured at sf0.1: 1.84 s -> 1.55 s —
    # the gate's row-local array math is far cheaper than the 4-gram
    # explode + broadcast probe it avoids (guide §2.3: don't compute
    # what you throw away).
    probe = qual.filter(F.col("source") != "src0").select(
        "doc_id",
        F.explode(_word_ngrams(F.split("text", " "), 4)).alias("g"),
    )
    contaminated = (
        probe.join(F.broadcast(bench), "g").select("doc_id").distinct()
    )

    clean = qual.filter(F.col("source") != "src0").join(
        F.broadcast(contaminated), "doc_id", "left_anti"
    )

    src_num = F.substring("source", 4, 9).cast("int")
    keep_below = (
        F.when(src_num < 5, F.lit(16)).when(src_num < 15, F.lit(8)).otherwise(F.lit(2))
    )
    hv = md5_hex_digit(F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("source")), 1)
    sampled = clean.filter(hv < keep_below)

    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    budget = sampled.withColumn("cum", F.sum("n_tokens").over(w)).filter(
        F.col("cum") <= 2500
    )
    return budget.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


# --- deterministic fixed-k sample per stratum ---------------------------

_KSAMPLE_ORACLE = """
SELECT source, doc_id, pos FROM (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS pos
  FROM documents)
WHERE pos <= 5
"""


@register("sample_k_per_source", oracle=_KSAMPLE_ORACLE, tags=("L8", "W5", "ext"))
def sample_k_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size sample per stratum: exactly 5 docs per
    source, chosen by ranking on the md5 of the doc id — a seedless,
    engine-portable 'random' draw (same docs every run, every engine,
    any partitioning; the property reservoir sampling has only
    per-run). One shuffle on source; rank runs per-stratum. The
    rate-based twin is `sample_stratified`; this is the eval-set /
    human-review draw where the OUTPUT SIZE must be exact."""
    docs = load_table(spark, sf_dir, "documents")
    from gostream_spark.operators import topk_per_group

    ranked = topk_per_group(
        docs.select("source", "doc_id", F.md5(F.col("doc_id").cast("string")).alias("hk")),
        5,
        ["source"],
        [F.col("hk"), F.col("doc_id")],
        rank_col="pos",
    )
    return ranked.select("source", "doc_id", "pos")


# --- temperature-flattened source rebalancing ---------------------------

_HV4 = (
    "(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || '@' || source), 1, 1)) - 1) * 4096"
    " + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || '@' || source), 2, 1)) - 1) * 256"
    " + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || '@' || source), 3, 1)) - 1) * 16"
    " + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) || '@' || source), 4, 1)) - 1)"
)

_REBALANCE_ORACLE = f"""
WITH sized AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
  FROM documents),
stats AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
          FROM sized GROUP BY source),
lo AS (SELECT min(src_tokens) AS tmin FROM stats),
rates AS (SELECT source, src_tokens,
                 10000 * tmin // src_tokens AS rate_bp
          FROM stats, lo),
hashed AS (
  SELECT s.doc_id, s.source, s.n_tokens, r.rate_bp, r.src_tokens,
         {_HV4} AS hv
  FROM sized s JOIN rates r USING (source))
SELECT source,
       CAST(max(rate_bp) AS BIGINT) AS rate_bp,
       CAST(max(src_tokens) AS BIGINT) AS src_tokens,
       count(*) FILTER (hv < rate_bp * 65536 // 10000) AS kept_docs,
       CAST(coalesce(sum(n_tokens) FILTER (hv < rate_bp * 65536 // 10000), 0)
            AS BIGINT) AS kept_tokens
FROM hashed GROUP BY source
"""


@register("sample_temperature_rebalance", oracle=_REBALANCE_ORACLE, tags=("L8", "ext"))
def sample_temperature_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened source rebalancing: per-source keep rate
    ∝ tmin/src_tokens (integer basis points — the α→0 flattening that
    upweights small sources in a training mix), applied as a
    deterministic 16-bit md5 threshold per doc. Two passes: a
    stats aggregate derives the DATA-DRIVEN rates (unlike
    `sample_stratified`'s fixed rates), which broadcast back onto the
    corpus for a row-local filter. Everything is integer arithmetic —
    rate_bp, the 16-bit hash value, and the scaled threshold — so the
    sample is bit-reproducible on any engine, any partitioning.

    100 TB: pass 1 is one partial→final aggregate to source
    cardinality; the rates table is tiny and broadcasts; pass 2 is
    the corpus scan with a row-local predicate."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", "source", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    stats = sized.groupBy("source").agg(F.sum("n_tokens").alias("src_tokens"))
    tmin = stats.agg(F.min("src_tokens").alias("tmin"))
    rates = stats.crossJoin(F.broadcast(tmin)).select(
        "source",
        "src_tokens",
        F.expr("10000 * tmin div src_tokens").alias("rate_bp"),
    )
    key = F.concat(F.col("doc_id").cast("string"), F.lit("@"), F.col("source"))
    hexpos = lambda p, w: md5_hex_digit(key, p) * w
    hv = hexpos(1, 4096) + hexpos(2, 256) + hexpos(3, 16) + hexpos(4, 1)
    hashed = sized.join(F.broadcast(rates), "source").withColumn("hv", hv)
    kept = F.col("hv") < F.expr("rate_bp * 65536 div 10000")
    return hashed.groupBy("source").agg(
        F.max("rate_bp").cast("long").alias("rate_bp"),
        F.max("src_tokens").cast("long").alias("src_tokens"),
        F.count(F.when(kept, 1)).alias("kept_docs"),
        F.coalesce(F.sum(F.when(kept, F.col("n_tokens"))), F.lit(0))
        .cast("long")
        .alias("kept_tokens"),
    )


# --- source-priority dedup ----------------------------------------------

_PRIORITY_DEDUP_ORACLE = """
WITH ranked AS (
  SELECT doc_id, source, md5(text) AS digest,
         CASE WHEN CAST(substr(source, 4) AS INT) < 5 THEN 0
              WHEN CAST(substr(source, 4) AS INT) < 15 THEN 1
              ELSE 2 END AS src_rank
  FROM documents)
SELECT doc_id, source, digest,
       CAST(src_rank AS BIGINT) AS src_rank
FROM ranked
QUALIFY row_number() OVER (PARTITION BY digest
                           ORDER BY src_rank, doc_id) = 1
"""


@register("docs_dedup_source_priority", oracle=_PRIORITY_DEDUP_ORACLE, tags=("L1", "ext"))
def docs_dedup_source_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 with a curation policy: when the same content appears in
    multiple sources, keep the copy from the most TRUSTED source
    (src0-4 > src5-14 > rest), doc_id as the final tie-break — the
    'prefer curated over crawl' rule every real mix build applies.
    Same digest-keyed single-shuffle shape as `docs_dedup_digest`;
    only the intra-group ordering changes (`keep_first` with a
    priority prefix)."""
    from gostream_spark.operators import keep_first

    docs = load_table(spark, sf_dir, "documents")
    src_rank = (
        F.when(F.substring("source", 4, 9).cast("int") < 5, 0)
        .when(F.substring("source", 4, 9).cast("int") < 15, 1)
        .otherwise(2)
    )
    keyed = docs.select(
        "doc_id",
        "source",
        F.md5("text").alias("digest"),
        src_rank.cast("long").alias("src_rank"),
    )
    return keep_first(keyed, keys=["digest"], order_by=["src_rank", "doc_id"])


# --- regex PII redaction -------------------------------------------------

# Both engines run the SAME regex source strings. Java (Spark) and RE2
# (DuckDB) agree on this restricted syntax: literal classes, +/{n},
# no lookaround, no backrefs.
_EMAIL_RE = "[a-z0-9]+@[a-z]+[.][a-z]+"
_PHONE_RE = "[0-9]{3}-[0-9]{4}"

_PII_ORACLE = f"""
WITH synth AS (
  SELECT doc_id, source,
         array_to_string(
           list_transform(range(1, len(tk) + 1),
             j -> CASE
                    WHEN (doc_id + j) % 11 = 0
                      THEN 'u' || CAST(doc_id AS VARCHAR) || '@mail.com'
                    WHEN (doc_id + j) % 17 = 3
                      THEN '555-' || lpad(CAST(j AS VARCHAR), 4, '0')
                    ELSE tk[j]
                  END),
           ' ') AS text2
  FROM (SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents)),
red AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(text2, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
         CAST(len(regexp_extract_all(text2, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
         regexp_replace(regexp_replace(text2, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                        '{_PHONE_RE}', '<PHONE>', 'g') AS scrubbed
  FROM synth)
SELECT doc_id, source, n_emails, n_phones, md5(scrubbed) AS scrubbed_md5
FROM red
WHERE n_emails + n_phones > 0
"""


@register("scrub_pii_regex", oracle=_PII_ORACLE, tags=("F1", "L8", "ext"))
def scrub_pii_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII redaction — the email/phone scrub stage of corpus
    curation. The fixture corpus carries no PII, so the query first
    plants deterministic emails/phone numbers (identical construction
    in both engines), then redacts with regexes from the Java∩RE2
    compatible subset (no lookaround/backrefs — the portability
    constraint a real multi-engine pipeline has to respect anyway).
    Output proves content equality via md5 of the scrubbed text, not
    just match counts. Row-local: one scan, no shuffle; at 100 TB
    this fuses into whatever scan precedes it."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    synth = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.size(toks)),
            lambda j: F.when(
                (F.col("doc_id") + j) % 11 == 0,
                F.concat(F.lit("u"), F.col("doc_id").cast("string"), F.lit("@mail.com")),
            )
            .when(
                (F.col("doc_id") + j) % 17 == 3,
                F.concat(F.lit("555-"), F.lpad(j.cast("string"), 4, "0")),
            )
            .otherwise(F.element_at(toks, j)),
        ),
        " ",
    )
    # The counts come out of an inline_outer GENERATOR: a Filter on
    # plain aliases would be alias-substituted below the Project and
    # run both regex scans (and the synthesis) a second time; a
    # predicate on generator output cannot be pushed below the
    # Generate. The synthesized text is its own column first, so each
    # of the three expressions reads it instead of rebuilding it.
    text2 = F.col("text2")
    red = docs.select("doc_id", "source", synth.alias("text2")).select(
        "doc_id",
        "source",
        F.inline_outer(
            F.array(
                F.struct(
                    F.regexp_count(text2, F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
                    F.regexp_count(text2, F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
                    F.regexp_replace(
                        F.regexp_replace(text2, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
                    ).alias("scrubbed"),
                )
            )
        ),
    )
    return red.filter(F.col("n_emails") + F.col("n_phones") > 0).select(
        "doc_id", "source", "n_emails", "n_phones", F.md5("scrubbed").alias("scrubbed_md5")
    )


# --- Weighted priority sampling (Duffield-Lund-Thorup) ------------------

_PRIO_SCALE = 1 << 40  # integer-quantized priorities: w * 2^40 DIV h

_WPRIO_ORACLE = f"""
WITH base AS (
  SELECT source, doc_id,
         greatest(len(string_split(text, ' ')), 1) AS w,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           + 1 AS h
  FROM documents
), prio AS (
  SELECT source, doc_id, CAST(w AS BIGINT) AS w,
         (CAST(w AS BIGINT) * {_PRIO_SCALE}) // h AS priority
  FROM base
), ranked AS (
  SELECT source, doc_id, w, priority,
         row_number() OVER (PARTITION BY source
                            ORDER BY priority DESC, doc_id) AS rn
  FROM prio
)
SELECT source, doc_id, w, priority, rn FROM ranked WHERE rn <= 20
"""


@register("sample_weighted_priority", oracle=_WPRIO_ORACLE, tags=("L8", "W5", "ext"))
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted priority sampling (Duffield, Lund & Thorup 2007): a
    k=20-per-source sample where longer documents are proportionally
    more likely to be drawn — the reproducible way to take a
    token-mass-weighted subset (for eval slices, distillation pools,
    mix experiments) without rand().

    Priority q = w / u with u uniform from the doc's md5 — here
    integer-quantized as ``(w * 2^40) DIV h`` with h the first 8 md5
    hex digits + 1, so BOTH engines compute bit-identical BIGINT
    priorities (no float division, no cross-engine ulp risk; ties
    broken by doc_id). Top-k per source by priority is the sample;
    rerunning — or running on the other engine — always redraws the
    SAME sample, which is what makes corpus experiments diffable.

    Scale: w and h are row-local projections (single text-column
    scan); the only exchange is the per-source top-k window, and
    source cardinality is small — the same partitioned-ranking shape
    as ``topk_per_group``. Per-partition TopK pruning keeps the sort
    bounded; no global sort, no driver collect.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        "doc_id",
        F.greatest(F.size(F.split("text", " ")), F.lit(1)).cast("long").alias("w"),
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long")
            + 1
        ).alias("h"),
    )
    prio = base.select(
        "source",
        "doc_id",
        "w",
        F.expr(f"(w * {_PRIO_SCALE}) DIV h").alias("priority"),
    )
    w_rank = Window.partitionBy("source").orderBy(
        F.col("priority").desc(), "doc_id"
    )
    return (
        prio.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= 20)
        .select("source", "doc_id", "w", "priority", "rn")
    )


# --- Corpus health report: redundancy + diversity per source ------------

_HEALTH_ORACLE = """
WITH per_doc AS (
  SELECT source, doc_id, md5(text) AS digest, lang,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       CAST(count(DISTINCT digest) AS BIGINT) AS n_distinct_texts,
       CAST(count(*) - count(DISTINCT digest) AS BIGINT) AS redundant_docs,
       CAST(floor(10000.0 * (count(*) - count(DISTINCT digest)) / count(*))
            AS BIGINT) AS redundancy_bp,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(floor(sum(n_tokens) * 1.0 / count(*)) AS BIGINT) AS avg_tokens
FROM per_doc
GROUP BY source
"""


@register("corpus_dedup_report", oracle=_HEALTH_ORACLE, tags=("L1", "L8", "ext"))
def corpus_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1/L8 composition: the per-source corpus health report a
    curation team reads before a training run — document count, exact
    text redundancy (via md5 digest distinct, the same 16-byte-digest
    discipline as docs_dedup_digest: the shuffle never carries text),
    redundancy in basis points (floor of one exact-dividend division),
    language diversity, and token mass.

    One scan, one shuffle on source: count(distinct digest) expands
    per group but source cardinality is tiny, and every metric is a
    single-pass aggregate — the whole report costs one pass over the
    corpus at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        F.md5("text").alias("digest"),
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    n = F.count(F.lit(1))
    nd = F.countDistinct("digest")
    return per_doc.groupBy("source").agg(
        n.alias("n_docs"),
        nd.alias("n_distinct_texts"),
        (n - nd).alias("redundant_docs"),
        F.floor(10000.0 * (n - nd) / n).cast("bigint").alias("redundancy_bp"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.floor(F.sum("n_tokens") * 1.0 / n).cast("bigint").alias("avg_tokens"),
    )


# --- Cross-source duplication matrix ------------------------------------

_XSOURCE_ORACLE = """
WITH d AS (
  SELECT DISTINCT md5(text) AS dg, source FROM documents
), pairs AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared_docs
  FROM d a JOIN d b ON a.dg = b.dg AND a.source < b.source
  GROUP BY 1, 2
), per AS (
  SELECT source, count(*) AS n_distinct FROM d GROUP BY 1
)
SELECT source_a, source_b, shared_docs,
       round(CAST(shared_docs AS DOUBLE)
             / (pa.n_distinct + pb.n_distinct - shared_docs), 6) AS content_jaccard
FROM pairs
JOIN per pa ON pa.source = source_a
JOIN per pb ON pb.source = source_b
"""


@register("cross_source_duplication_matrix", oracle=_XSOURCE_ORACLE, tags=("L1", "L8", "ext"))
def cross_source_duplication_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-governance matrix: which sources carry the same content
    — per source pair, the count of shared exact-content digests and
    the content-level Jaccard between the sources' digest sets. This
    is how mirror/scraper relationships surface before near-dup even
    runs (a high-Jaccard pair means one source is largely a copy of
    the other — drop or down-weight it wholesale instead of doc by
    doc). The digest table carries 16-byte md5s, never text; the
    pair join is digest-keyed so fan-out is bounded by per-digest
    source-set size squared (≤ |sources|²), and the per-source
    distinct counts are broadcast-size. Output is at most
    |sources|² rows at any corpus scale."""
    d = (
        load_table(spark, sf_dir, "documents")
        .select(F.md5("text").alias("dg"), "source")
        .distinct()
    )
    a = d.alias("a")
    b = d.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.dg") == F.col("b.dg")) & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_docs"))
    )
    per = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_distinct"))
    return (
        pairs.join(
            F.broadcast(
                per.withColumnsRenamed({"source": "source_a", "n_distinct": "n_a"})
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                per.withColumnsRenamed({"source": "source_b", "n_distinct": "n_b"})
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "shared_docs",
            F.round(
                F.col("shared_docs").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("shared_docs")),
                6,
            ).alias("content_jaccard"),
        )
    )


_EXSUB_K = 5

_EXSUB_ORACLE = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents
), pos AS (
  -- NULL doc_id rows sit out the pass (kept verbatim downstream):
  -- a NULL key cannot take a deterministic place in the keeper
  -- order (Spark struct-min sorts NULLS FIRST, SQL ORDER BY ASC
  -- defaults NULLS LAST), so excluding it is the only
  -- cross-engine-stable semantics for a malformed id
  SELECT doc_id, unnest(range(1, n - {_EXSUB_K - 2})) AS p
  FROM d WHERE n >= {_EXSUB_K} AND doc_id IS NOT NULL
), occ AS (
  SELECT o.doc_id, o.p,
         md5(array_to_string(list_slice(d.toks, o.p, o.p + {_EXSUB_K - 1}),
                             ' ')) AS k
  FROM pos o JOIN d USING (doc_id)
), marks AS (
  SELECT doc_id, p FROM (
    SELECT doc_id, p,
           row_number() OVER (PARTITION BY k ORDER BY doc_id, p) AS rn
    FROM occ)
  WHERE rn > 1
), cover AS (
  SELECT DISTINCT doc_id, cp FROM (
    SELECT doc_id, unnest(range(p, p + {_EXSUB_K})) AS cp FROM marks)
), rem AS (
  SELECT doc_id, list(cp) AS removed, count(*) AS n_removed
  FROM cover GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(d.n AS BIGINT) AS n_words,
       CAST(coalesce(r.n_removed, 0) AS BIGINT) AS n_removed,
       CASE WHEN d.toks IS NOT NULL THEN
         -- coalesce: DuckDB's array_to_string([]) is NULL, Spark's
         -- array_join([]) is '' — a fully-removed doc must read ''
         coalesce(array_to_string(
           list_filter(
             list_transform(
               range(1, d.n + 1),
               i -> CASE WHEN r.removed IS NULL
                              OR NOT list_contains(r.removed, i)
                         THEN d.toks[i] END),
             x -> x IS NOT NULL),
           ' '), '')
       END AS clean_text
FROM d LEFT JOIN rem r USING (doc_id)
"""


@register(
    "exact_substr_dedup",
    oracle=_EXSUB_ORACLE,
    tags=("L1", "L2", "ext"),
    bench=True,
)
def exact_substr_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-SPAN removal — the ExactSubstr pass of
    "Deduplicating Training Data Makes Language Models Better" (Lee
    et al., 2021), re-expressed relationally: every word 5-gram
    occurrence that is not its gram's GLOBAL first occurrence (min by
    (doc_id, position)) marks its 5-word span for deletion; per doc
    the marked spans are unioned and the covered words cut, so one
    copy of every duplicated passage survives corpus-wide (a passage
    longer than 5 words is covered by its overlapping windows) and
    repeats WITHIN a doc lose their later occurrences too. Unlike
    ``dup_ngram_fraction`` (a per-doc boilerplate SCORE) this emits
    the cleaned corpus itself: (doc_id, n_words, n_removed,
    clean_text).

    Scale shape (the suffix-array pass of the paper is a single-node
    construction; this is the shuffle form a 100 TB corpus needs):
    occurrences shuffle once on a 128-bit gram key (two
    independently-seeded xxhash64 halves, 16 bytes, not the ~30-byte
    gram; collision policy at the gram key below); the keeper is
    min(struct(doc_id, pos)) — a
    PARTIAL-AGGREGATABLE min, so a viral boilerplate gram repeated
    in millions of docs collapses to one row per map task before the
    exchange (a row_number window would hand that gram's whole
    occurrence list to a single reducer — the skew the Zipf head
    guarantees). Span union + text reconstruction are row-local
    array ops (no per-doc shuffle beyond the cover groupBy). Output
    text rebuilds via index-filter + array_join, preserving empty
    tokens exactly as DuckDB's list path does."""
    # spread_for_compute: the per-occurrence gram materialization +
    # digest is the CPU of this operator, and a single-file fixture
    # scan would otherwise evaluate it all in one task (no-op at
    # real-split layouts — see io.py).
    docs = load_spread(spark, sf_dir)
    toks = F.split("text", " ")
    d = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.when(toks.isNotNull(), F.size(toks)).alias("n"),
    )
    k = _EXSUB_K
    # explode_outer, NOT explode: plain explode makes Catalyst infer
    # size(<gram transform>) > 0 on the generator input — evaluating
    # the ENTIRE gram digest pipeline a second time inside the inferred
    # Filter (and, below the spread exchange, serially). explode_outer
    # infers nothing; the generator-output null filter is not pushable
    # below the Generate. (Same pathology as operators/prefix_join.)
    # Gram key — per-operator collision POLICY (PERF.md §digest): this
    # is a REMOVAL pass, so a gram-key collision silently deletes a
    # non-duplicate span. At the engine's design point (100 TB,
    # 10^11-10^13 distinct grams) a 64-bit key expects n^2/2^65 birthday
    # collisions — hundreds to millions — and, because the oracle keys
    # on md5, each one is also a cross-engine divergence. The key is
    # therefore 128-bit: a struct of two INDEPENDENTLY-seeded xxhash64
    # halves (n^2/2^129 ~ 1.5e-13 expected collisions corpus-wide at
    # 10^13 grams, like md5, but allocation-free and codegen'd). Seed
    # independence matters: Spark's xxhash64 CHAINS field hashes (field
    # i is seeded by the running hash), so xxhash64(gram, lit(1)) would
    # be a pure function of xxhash64(gram) and add zero margin — the
    # salt must come FIRST (xxhash64(lit(1), gram)) to re-seed the whole
    # gram hash. A 64-bit key is right ONLY for collision-tolerant
    # statistics (see dup_ngram_fraction in corpus_signals.py).
    # The gram STRING materializes once, inside the generator struct,
    # and the hashes read the already-materialized field AFTER the
    # explode — higher-order-function lambdas get no subexpression
    # elimination, so hashing inside the transform would rebuild the
    # ~30-byte gram once PER HASH (measured: two-seed-inside-lambda
    # read 7.0 s at sf1 vs 5.0 s in this shape).
    occ = (
        d.filter((F.col("n") >= k) & F.col("doc_id").isNotNull())
        .select(
            "doc_id",
            F.explode_outer(
                F.transform(
                    F.sequence(F.lit(1), F.col("n") - k + 1),
                    lambda p: F.struct(
                        p.alias("p"),
                        F.array_join(F.slice("toks", p, k), " ").alias("g"),
                    ),
                )
            ).alias("o"),
        )
        .filter(F.col("o").isNotNull())
        .select(
            "doc_id",
            F.col("o.p").alias("p"),
            F.struct(
                F.xxhash64("o.g").alias("h1"), F.xxhash64(F.lit(1), "o.g").alias("h2")
            ).alias("k"),
        )
    )
    # r16 (guide §2.4 "two operations keyed the same way share one
    # exchange"): an explicit hash repartition on the gram key makes
    # the keeper aggregate AND the join-back both consume the SAME
    # exchange — ReuseExchange fires on the two references to this one
    # subplan, so the scan + gram explode + digest pipeline runs ONCE
    # and occ crosses the wire once (before: twice each — 6.8M-gram
    # sf0.1 reads 2.13 s; after, with the dup-filter below, 1.36 s).
    # No explicit N: AQE still sizes/coalesces the exchange, so the
    # width stays scale-adaptive. Partial aggregation is unchanged in
    # effect — grams are mostly singletons, so map-side collapse was
    # never the savings here; the single materialization is.
    occ = occ.repartition("k")
    # Keeper side pre-filtered to DUPLICATED grams (cnt >= 2): a
    # singleton's only occurrence IS its keeper and can never mark, so
    # dropping singleton classes from the build side leaves marks
    # unchanged (verified output-identical) while shrinking the join's
    # hash relation to the duplicated-gram minority.
    keeper = (
        occ.groupBy("k")
        .agg(
            F.min(F.struct("doc_id", "p")).alias("keep"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .filter(F.col("cnt") >= 2)
    )
    marks = (
        occ.join(keeper, "k")
        .filter(
            (F.col("doc_id") != F.col("keep.doc_id"))
            | (F.col("p") != F.col("keep.p"))
        )
        .select("doc_id", "p")
    )
    cover = marks.select(
        "doc_id", F.explode(F.sequence("p", F.col("p") + k - 1)).alias("cp")
    )
    # collect_set both dedups overlapping spans AND partial-aggregates
    # map-side (set union), so no separate distinct shuffle is needed;
    # the set is bounded by the doc's word count.
    rem = cover.groupBy("doc_id").agg(
        F.collect_set("cp").alias("removed")
    ).withColumn("n_removed", F.size("removed"))
    removed = F.coalesce("removed", F.array().cast("array<int>"))
    return (
        d.join(rem, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_words"),
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
            F.when(
                F.col("toks").isNotNull(),
                F.array_join(
                    F.filter(
                        "toks",
                        lambda t, i: ~F.array_contains(removed, i + F.lit(1)),
                    ),
                    " ",
                ),
            ).alias("clean_text"),
        )
    )
