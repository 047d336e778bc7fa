"""LLM-data-pipeline text operators (SURVEY.md §2.8: L1, L6-L8) plus
the training-data-pipeline extensions the driver mandates: language-ID
heuristic, quality scoring, token counting, document fingerprinting.

All token work is built-in array functions over `split(text, ' ')` —
JVM-side, no Python UDFs, so a 100 TB documents table is one scan +
one shuffle per aggregate. Dedup keys hash/shuffle on content, never
collect; TF-IDF is two hash aggregates (term×doc, then term).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gostream_spark.io import load_spread, load_table
from gostream_spark.operators import keep_first, topk_ranked
from gostream_spark.registry import register

STOPWORDS = ("the", "a")

# --- L1 exact dedup -----------------------------------------------------

_L1_ORACLE = """
SELECT doc_id, md5(text) AS text_md5, lang, source,
       count(*) OVER (PARTITION BY text) AS copies
FROM documents
QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1
"""


@register("docs_dedup_exact", oracle=_L1_ORACLE, tags=("L1",), bench=True)
def docs_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1: exact dedup by content — keep the lowest doc_id per
    distinct text (deterministic, unlike bare dropDuplicates). One
    shuffle partitioned by the text content; at 100 TB pre-hash with
    xxhash64(text) as the shuffle key and compare full text only
    within hash buckets so the exchange moves 8-byte keys, not
    documents."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "copies", F.count(F.lit(1)).over(Window.partitionBy("text"))
    )
    return keep_first(docs, keys=["text"], order_by=["doc_id"]).select(
        "doc_id", F.md5("text").alias("text_md5"), "lang", "source", "copies"
    )


# --- wordcount (the reference's canonical demo topology) ----------------

_WC_ORACLE = """
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
SELECT token, count(*) AS cnt FROM tok GROUP BY token
"""


@register("wordcount", oracle=_WC_ORACLE, tags=("A1", "P3", "flagship"))
def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's canonical demo topology (SURVEY §2.4 A1:
    splitter spout → fields-grouped counting bolt) in its entirety:
    split → explode → groupBy → count. Map-side explode, partial
    counts collapse before the single shuffle on the token."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(_toks()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# --- L6 tokenize / ngrams / stopwords ----------------------------------


def _toks(c: str = "text") -> Column:
    return F.split(F.col(c), " ")


_L6_ORACLE = """
SELECT doc_id,
       len(toks) AS n_tokens,
       len(list_filter(toks, t -> t NOT IN ('the', 'a'))) AS n_tokens_nostop,
       len(list_distinct(toks)) AS n_distinct,
       CASE WHEN len(toks) > 1
            THEN len(list_distinct(list_transform(range(1, len(toks)),
                                                  i -> toks[i] || ' ' || toks[i+1])))
            ELSE 0 END AS n_distinct_bigrams
FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
"""


@register("text_token_stats", oracle=_L6_ORACLE, tags=("L6",))
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6: tokenize / stopword-filter / n-gram counts per document —
    pure array expressions, zero shuffles (row-local)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", _toks().alias("toks"))
    n = F.size("toks")
    bigrams = F.zip_with(
        F.slice("toks", 1, n - 1),
        F.slice("toks", 2, n - 1),
        lambda x, y: F.concat(x, F.lit(" "), y),
    )
    return docs.select(
        "doc_id",
        n.alias("n_tokens"),
        F.size(F.filter("toks", lambda t: ~t.isin(*STOPWORDS))).alias("n_tokens_nostop"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
        F.when(n > 1, F.size(F.array_distinct(bigrams))).otherwise(0).alias(
            "n_distinct_bigrams"
        ),
    )


_L6B_ORACLE = """
WITH big AS (
  SELECT unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i+1])) AS bigram
  FROM (SELECT string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) > 1
), counted AS (
  SELECT bigram, count(*) AS cnt FROM big GROUP BY bigram
)
SELECT bigram, cnt, rn FROM (
  SELECT bigram, cnt, row_number() OVER (ORDER BY cnt DESC, bigram) AS rn
  FROM counted
) WHERE rn <= 15
"""


@register("top_bigrams", oracle=_L6B_ORACLE, tags=("L6", "W5"))
def top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6: corpus-wide top-15 bigrams — explode (map-side) → hash
    count → global top-k (TakeOrdered-style tiny tail)."""
    docs = load_table(spark, sf_dir, "documents").select(_toks().alias("toks"))
    n = F.size("toks")
    bigrams = F.zip_with(
        F.slice("toks", 1, n - 1),
        F.slice("toks", 2, n - 1),
        lambda x, y: F.concat(x, F.lit(" "), y),
    )
    counted = (
        docs.filter(n > 1)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return topk_ranked(
        counted.select("bigram", "cnt"), 15, F.col("cnt").desc(), F.col("bigram")
    )


# --- L7 TF-IDF top terms ------------------------------------------------

def tfidf_oracle(stopwords: tuple[str, ...] = STOPWORDS) -> str:
    """DuckDB oracle for ``tfidf_top_terms`` for an arbitrary stopword
    tuple — shared between the registered entry (default stopwords)
    and tools/decade_scope.py, which passes the salted fixture's
    manifest stopwords so the filter stays real on the salted
    vocabulary."""
    not_in = ", ".join(f"'{w}'" for w in stopwords)
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM tok
  WHERE token NOT IN ({not_in}) GROUP BY doc_id, token
), byterm AS (
  SELECT token, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf FROM tf GROUP BY token
), n AS (SELECT count(*) AS n_docs FROM documents)
SELECT token, df, total_tf, score, rn FROM (
  SELECT token, df, total_tf,
         round(total_tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS score,
         row_number() OVER (ORDER BY round(total_tf * ln(CAST(n_docs AS DOUBLE) / df), 6)
                            DESC, token) AS rn
  FROM byterm, n
) WHERE rn <= 20
"""


_L7_ORACLE = tfidf_oracle()


@register("tfidf_top_terms", oracle=_L7_ORACLE, tags=("L7",))
def tfidf_top_terms(
    spark: SparkSession,
    sf_dir: str,
    stopwords: tuple[str, ...] = STOPWORDS,
) -> DataFrame:
    """L7: TF-IDF — term frequency × inverse document frequency, top
    20 terms corpus-wide. Two hash aggregates ((doc,term) then term);
    the corpus size joins in as a broadcast scalar. Skewed hot terms
    are already collapsed map-side by the partial aggregate.
    stopwords (probe knob): the decade fixture salts the vocabulary,
    so the probe passes the per-replica salted stopword set from the
    fixture manifest."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(_toks()).alias("token")).filter(
        ~F.col("token").isin(*stopwords)
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    byterm = tf.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("total_tf")
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = byterm.crossJoin(F.broadcast(n_docs)).select(
        "token",
        "df",
        "total_tf",
        F.round(
            F.col("total_tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
        ).alias("score"),
    )
    return topk_ranked(
        scored.select("token", "df", "total_tf", "score"),
        20,
        F.col("score").desc(),
        F.col("token"),
    )


# --- L8 language/source filtering + stats ------------------------------

_L8_ORACLE = """
SELECT lang, source,
       count(*) AS doc_cnt,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       round(CAST(sum(n_chars) AS DOUBLE) / count(*), 2) AS avg_chars,
       max(n_chars) AS max_chars
FROM documents
WHERE lang IN ('en', 'fr', 'de')
GROUP BY lang, source
"""


@register("lang_source_stats", oracle=_L8_ORACLE, tags=("L8",))
def lang_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L8: language/source filter + per-group corpus stats (the
    filter is pushed into the parquet scan — verify `PushedFilters`
    in the plan)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isin("en", "fr", "de")
    )
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("doc_cnt"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.sum("n_chars").cast("double") / F.count(F.lit(1)), 2).alias("avg_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# --- Extension: quality scoring ----------------------------------------

_QUALITY_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), m AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         len(list_filter(toks, x -> x IN ('the', 'a'))) AS n_stop,
         len(list_distinct(toks)) AS n_distinct
  FROM t
), s AS (
  SELECT doc_id,
         40 * least(n_tokens, 100)
         + CAST(floor(3000.0 * (n_tokens - n_stop + n_distinct) / n_tokens) AS BIGINT)
           AS quality_bp
  FROM m
)
SELECT doc_id, quality_bp,
       CASE WHEN quality_bp >= 7500 THEN 'high'
            WHEN quality_bp >= 5000 THEN 'medium'
            ELSE 'low' END AS quality_class
FROM s
"""


@register("text_quality_score", oracle=_QUALITY_ORACLE, tags=("L8", "ext"))
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: document quality score — length, stopword-ratio and
    lexical-diversity components (the standard cheap pre-filters for
    training-data curation), expressed in integer basis points:
    0.4·min(1, n/100) + 0.3·(1 - stop/n) + 0.3·(distinct/n) scaled by
    10000 collapses to 40·min(n,100) + floor(3000·(n-stop+distinct)/n).
    The single floor of a single exact division is the cross-engine-
    deterministic form — a multi-term float sum rounded at 4 decimals
    lands on round-half boundaries for rational token ratios, where
    Spark (half-up) and DuckDB (half-even) disagree. Row-local; no
    shuffle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", _toks().alias("toks"))
    n = F.size("toks")
    n_stop = F.size(F.filter("toks", lambda t: t.isin(*STOPWORDS)))
    n_distinct = F.size(F.array_distinct("toks"))
    quality_bp = (
        40 * F.least(n, F.lit(100))
        + F.floor(3000.0 * (n - n_stop + n_distinct) / n).cast("bigint")
    ).cast("bigint")
    return docs.select(
        "doc_id",
        quality_bp.alias("quality_bp"),
        F.when(quality_bp >= 7500, "high")
        .when(quality_bp >= 5000, "medium")
        .otherwise("low")
        .alias("quality_class"),
    )


# --- Extension: language-ID heuristic ----------------------------------

_LANGID_ORACLE = """
WITH t AS (
  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
), hits AS (
  SELECT doc_id, lang,
         len(list_filter(toks, x -> x IN ('the', 'a', 'of'))) AS en_hits,
         len(list_filter(toks, x -> x IN ('le', 'une', 'est'))) AS fr_hits,
         len(list_filter(toks, x -> x IN ('der', 'das', 'und'))) AS de_hits
  FROM t
)
SELECT doc_id, lang AS labeled_lang, en_hits, fr_hits, de_hits,
       CASE WHEN en_hits = 0 AND fr_hits = 0 AND de_hits = 0 THEN 'unknown'
            WHEN en_hits >= fr_hits AND en_hits >= de_hits THEN 'en'
            WHEN fr_hits >= de_hits THEN 'fr'
            ELSE 'de' END AS predicted_lang
FROM hits
"""


@register("lang_id_heuristic", oracle=_LANGID_ORACLE, tags=("L8", "ext"))
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: stopword-profile language ID (n-gram-style
    heuristic). The fixture corpus is an English-ish word soup under
    every lang label, so the prediction column mostly reads 'en' —
    the operator's plumbing (profile match + argmax with deterministic
    tie order) is what's under test."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang"), _toks().alias("toks")
    )
    def hits(*words: str) -> Column:
        return F.size(F.filter("toks", lambda t: t.isin(*words)))

    scored = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        hits("the", "a", "of").alias("en_hits"),
        hits("le", "une", "est").alias("fr_hits"),
        hits("der", "das", "und").alias("de_hits"),
    )
    return scored.select(
        "doc_id",
        "labeled_lang",
        "en_hits",
        "fr_hits",
        "de_hits",
        F.when(
            (F.col("en_hits") == 0) & (F.col("fr_hits") == 0) & (F.col("de_hits") == 0),
            "unknown",
        )
        .when(
            (F.col("en_hits") >= F.col("fr_hits")) & (F.col("en_hits") >= F.col("de_hits")),
            "en",
        )
        .when(F.col("fr_hits") >= F.col("de_hits"), "fr")
        .otherwise("de")
        .alias("predicted_lang"),
    )


# --- Extension: document fingerprint -----------------------------------

_FP_ORACLE = """
SELECT doc_id,
       md5(array_to_string(list_transform(
             list_sort(list_distinct(string_split(text, ' '))),
             t -> length(t) || ':' || t), ''))
         AS set_fingerprint,
       substring(md5(array_to_string(list_transform(
             list_sort(list_distinct(string_split(text, ' '))),
             t -> length(t) || ':' || t), '')),
                 1, 8) AS fp_prefix
FROM documents
"""


@register("doc_fingerprint", oracle=_FP_ORACLE, tags=("ext", "F7"))
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: order-insensitive content fingerprint — md5 of the
    sorted distinct token set. Near-dup docs that differ only in word
    order or repetition collide, exact-content variants don't; the
    8-hex prefix is the bucketing key for a fingerprint-join dedup at
    scale. The canonical string length-prefixes each token
    (``len:token`` netstring-style) so it is INJECTIVE for arbitrary
    token bytes — a plain separator join would let a token containing
    the separator alias two distinct token sets into one fingerprint
    (the r8-advice collision class), i.e. a false-positive dedup
    merge; both engines compute the identical prefixed form, so
    cross-engine md5 equality is preserved byte-for-byte."""
    docs = load_spread(spark, sf_dir)
    canon = F.array_join(
        F.transform(
            F.array_sort(F.array_distinct(_toks())),
            lambda t: F.concat(F.length(t).cast("string"), F.lit(":"), t),
        ),
        "",
    )
    return docs.select(
        "doc_id",
        F.md5(canon).alias("set_fingerprint"),
        F.substring(F.md5(canon), 1, 8).alias("fp_prefix"),
    )


# --- Extension: token counting (whitespace + BPE-ish estimate) ----------

_TOKCOUNT_ORACLE = """
SELECT doc_id,
       len(toks) AS ws_tokens,
       CAST(list_aggregate(list_transform(toks, t -> CAST(ceil(length(t) / 4.0) AS BIGINT)),
                           'sum') AS BIGINT) AS bpe_tokens_est,
       CAST(len(regexp_extract_all(text, '[a-z]{1,4}|[0-9]+')) AS BIGINT)
         AS bpe_regex_tokens,
       length(text) AS chars
FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
"""


@register("token_count", oracle=_TOKCOUNT_ORACLE, tags=("ext", "L6"))
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: token counting — whitespace tokens, the chars/4
    estimate, and a BPE-ish greedy regex segmentation (≤4-letter
    chunks; both engines' regex engines produce identical
    non-overlapping greedy matches). Row-local only."""
    docs = load_spread(spark, sf_dir)
    bpe = F.aggregate(
        F.transform(_toks(), lambda t: F.ceil(F.length(t) / 4.0)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    return docs.select(
        "doc_id",
        F.size(_toks()).alias("ws_tokens"),
        bpe.alias("bpe_tokens_est"),
        F.regexp_count("text", F.lit("[a-z]{1,4}|[0-9]+")).cast("bigint").alias(
            "bpe_regex_tokens"
        ),
        F.length("text").alias("chars"),
    )


# --- Extension: rolling-hash content-defined chunking --------------------

_CHUNK_ORACLE = """
WITH pos AS (
  SELECT doc_id, length(text) AS n,
         list_filter(range(1, length(text) - 6),
                     p -> substr(md5(substr(text, p, 8)), 1, 2) = '00') AS bnds
  FROM documents
)
SELECT doc_id,
       CAST(len(bnds) AS BIGINT) AS n_boundaries,
       CAST(CASE WHEN len(bnds) > 0 THEN bnds[1] ELSE -1 END AS BIGINT)
         AS first_boundary,
       CAST(floor(n / (len(bnds) + 1)) AS BIGINT) AS avg_chunk_len
FROM pos
"""


@register("rolling_hash_chunks", oracle=_CHUNK_ORACLE, tags=("ext", "F7", "L1"))
def rolling_hash_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension: content-defined chunking — a boundary wherever the
    hash of the 8-char window at that position starts with a chosen
    prefix (P≈1/256 per position), the Rabin-Karp/rsync fingerprint
    scheme: insertions only shift boundaries locally, so chunk hashes
    dedup shifted near-duplicates that line-level hashing misses.
    md5-windowed here for cross-engine exactness; production uses a
    true O(1)-slide polynomial rolling hash with the same boundary
    rule. Row-local; no shuffle."""
    docs = load_spread(spark, sf_dir)
    n = F.length("text")
    # Degenerate-size guard: under 8 chars, sequence(1, n-7) would
    # DESCEND ([1, 0]) and probe bogus positions where the oracle's
    # range(1, n-6) is empty — short texts get no boundaries.
    bnds = F.when(
        n >= 8,
        F.filter(
            F.sequence(F.lit(1), n - 7),
            lambda p: F.substring(F.md5(F.col("text").substr(p, F.lit(8))), 1, 2)
            == "00",
        ),
    ).otherwise(F.array().cast("array<int>"))
    nb = F.size(bnds)
    return docs.select(
        "doc_id",
        nb.cast("bigint").alias("n_boundaries"),
        F.when(nb > 0, F.element_at(bnds, 1)).otherwise(F.lit(-1))
        .cast("bigint")
        .alias("first_boundary"),
        F.floor(n / (nb + 1)).cast("bigint").alias("avg_chunk_len"),
    )


# --- L1 scale path: digest-keyed dedup ----------------------------------

_L1_DIGEST_ORACLE = """
SELECT doc_id, lang, source, n_chars, digest
FROM (
  SELECT doc_id, lang, source, n_chars, md5(text) AS digest
  FROM documents
)
QUALIFY row_number() OVER (PARTITION BY digest ORDER BY doc_id) = 1
"""


@register("docs_dedup_digest", oracle=_L1_DIGEST_ORACLE, tags=("L1", "F7"))
def docs_dedup_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 scale path: dedup keyed on a 128-bit content digest instead
    of the full text — the shuffle carries a 16-byte key plus the
    surviving columns, never the document body, which is the design
    that holds at 100 TB (`docs_dedup_exact` is the full-text twin).
    md5 collisions are negligible at any corpus size (~2^-64 at 10^12
    docs); where that bound is not acceptable, verify within digest
    groups before discarding. The text column is dropped BEFORE the
    exchange so Catalyst prunes it from everything past the scan."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars", F.md5("text").alias("digest")
    )
    return keep_first(docs, keys=["digest"], order_by=["doc_id"])


# --- L8 ext: token-entropy quality gate ----------------------------------

_ENTROPY_ORACLE = """
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents),
e AS (
  SELECT doc_id, lang, len(tk) AS n,
         list_aggregate(
           list_transform(list_distinct(tk),
                          u -> CAST(len(list_filter(tk, x -> x = u)) AS DOUBLE)
                               * ln(len(list_filter(tk, x -> x = u)))),
           'sum') AS clnc
  FROM t)
SELECT doc_id, lang,
       CAST(n AS BIGINT) AS n_tokens,
       round(ln(n) - clnc / n, 4) AS token_entropy,
       (ln(n) - clnc / n < 1.5) AS low_entropy
FROM e
"""


@register("token_entropy_gate", oracle=_ENTROPY_ORACLE, tags=("L8", "L6", "ext"))
def token_entropy_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information-theoretic quality gate: Shannon entropy of the
    token distribution per document, H = ln(n) - (1/n)·Σ c·ln c —
    low-entropy docs are boilerplate/keyword-stuffed spam that
    count-based repetition rules (quality_repetition_rules) under-
    catch. Entirely row-local HOFs over the token array (per-token
    counts via filter-within-distinct — O(u·n) bounded by document
    length, not corpus size): zero shuffles, fuses into the curation
    scan. ln/division rounded at 4 decimals for cross-engine hash
    stability."""
    docs = load_spread(spark, sf_dir)
    tk = _toks()
    cnt = lambda u: F.size(F.filter(tk, lambda x: x == u))  # noqa: E731
    clnc = F.aggregate(
        F.transform(
            F.array_distinct(tk), lambda u: cnt(u).cast("double") * F.log(cnt(u))
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n = F.size(tk)
    h = F.log(n.cast("double")) - clnc / n
    return docs.select(
        "doc_id",
        "lang",
        n.cast("long").alias("n_tokens"),
        F.round(h, 4).alias("token_entropy"),
        (h < 1.5).alias("low_entropy"),
    )


# --- L6 ext: BPE merge statistics (tokenizer-training prep) -------------

_BPE_PAIRS_ORACLE = """
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
), wc AS (
  SELECT w, count(*) AS c FROM words WHERE w <> '' GROUP BY w
), pairs AS (
  SELECT unnest(list_transform(range(1, len(w)), i -> w[i:i+1])) AS pair, c
  FROM wc WHERE len(w) >= 2
), totals AS (
  SELECT pair, CAST(sum(c) AS BIGINT) AS n_occurrences,
         CAST(count(*) AS BIGINT) AS n_word_types
  FROM pairs GROUP BY pair
)
SELECT pair, n_occurrences, n_word_types, rn FROM (
  SELECT pair, n_occurrences, n_word_types,
         row_number() OVER (ORDER BY n_occurrences DESC, pair) AS rn
  FROM totals)
WHERE rn <= 20
"""


@register("bpe_pair_frequencies", oracle=_BPE_PAIRS_ORACLE, tags=("L6", "ext"))
def bpe_pair_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6 ext: the statistic BPE tokenizer training iterates on — the
    corpus-wide frequency of each ADJACENT CHARACTER PAIR, weighted by
    word occurrence count (iteration 1 of the merge loop; the top row
    is the first merge rule). The 100 TB-shape trick is the word-type
    rollup FIRST: pair counts explode from the distinct-word table
    (bounded vocabulary, millions of rows) with the corpus frequency
    carried as a weight — never from the corpus's raw token stream
    (trillions of rows). Two hash aggregates + a TakeOrdered top-20;
    the pair explode is a row-local transform over each word's
    characters, guarded for 1-char words (an empty F.sequence range
    would DESCEND, the degenerate-size class test_degenerate_inputs
    pins)."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split("text", " ")).alias("w")).filter(
        F.col("w") != ""
    )
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    wlen = F.length("w")
    pair_arr = F.when(
        wlen >= 2,
        F.transform(
            F.sequence(F.lit(1), wlen - 1),
            lambda i: F.col("w").substr(i, F.lit(2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pairs = wc.select(F.explode(pair_arr).alias("pair"), "c")
    totals = pairs.groupBy("pair").agg(
        F.sum("c").cast("bigint").alias("n_occurrences"),
        F.count(F.lit(1)).cast("bigint").alias("n_word_types"),
    )
    return topk_ranked(
        totals, 20, F.col("n_occurrences").desc(), F.col("pair")
    )
