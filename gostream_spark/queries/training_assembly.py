"""Training-data ASSEMBLY operators (SURVEY.md §2.8 extensions) — the
stages after curation (`queries/corpus_ops.py`) that turn a cleaned
corpus into what a training job actually consumes: a leakage-safe
train/val/test split, RAG-style overlapping chunk windows, incremental
dedup of a new ingest batch against the existing corpus, GPT-style
concat-and-pack sequence addressing, and int8-quantized similarity
retrieval with exact rescoring.

Scale shapes (the design constraint for every op here):
- the split is a row-local md5 threshold on the CONTENT digest (not
  the doc id), so byte-identical duplicates can never straddle
  train/test — the standard leakage guard — and the assignment is
  reproducible on any engine, any partitioning. One scan + one small
  aggregate.
- chunking is explode-only (one row → ~n/stride rows), row-local, no
  shuffle; downstream chunk dedup/indexing shuffles the 16-byte chunk
  digest, never the text.
- incremental dedup anti-joins the batch against the corpus on the
  digest: both sides shuffle on a 16-byte key (text pruned first). At
  100 TB the corpus side is the big one — the standard accelerations
  are a digest-bucketed corpus table (storage-partitioned join: no
  corpus re-shuffle per ingest) and a bloom-filter pre-pass that
  eliminates most batch rows before the join.
- sequence packing is the same per-source cumulative window as
  `token_budget_per_source` — one shuffle on source; the seq_id /
  offset arithmetic is integer and row-local above it.
- quantized retrieval scans the corpus once against a broadcast query
  vector; the int8 scores are exact integers (cross-engine), and only
  the k survivors get the float rescore. At scale the int8 corpus is
  ~4x smaller than float32 — the reason real ANN systems quantize.

Public lineage: content-hash splits and dedup-aware eval separation
follow the C4/Pile/GPT-3 data-preparation descriptions (Raffel et al.
2020; Gao et al. 2020; Brown et al. 2020 §4); overlapping-window
chunking is the standard RAG retrieval-unit construction; concat-and-
pack sequence layout is the GPT-style training-batch construction;
int8 symmetric quantization with exact rescore is the standard
two-stage retrieval form (e.g. IVF-PQ-style candidate-then-rescore).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gostream_spark.functions import cosine_similarity
from gostream_spark.functions.sketches import md5_hex_digit
from gostream_spark.io import load_table
from gostream_spark.queries.llm_similarity import _duck_cosine
from gostream_spark.operators import keep_first, topk_ranked
from gostream_spark.registry import register

# --- leakage-safe train/val/test split ----------------------------------

# 8-bit bucket of the content digest: train < 204 (~80%), val < 230
# (~10%), test otherwise (~10%).
_TRAIN_BELOW, _VAL_BELOW = 204, 230

_SPLIT_ORACLE = f"""
WITH hashed AS (
  SELECT source,
         len(string_split(text, ' ')) AS n_tokens,
         (instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
           + (instr('0123456789abcdef', substr(md5(text), 2, 1)) - 1) AS hv
  FROM documents)
SELECT CASE WHEN hv < {_TRAIN_BELOW} THEN 'train'
            WHEN hv < {_VAL_BELOW} THEN 'val'
            ELSE 'test' END AS split,
       source,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM hashed
GROUP BY 1, 2
"""


@register("train_val_test_split", oracle=_SPLIT_ORACLE, tags=("L8", "ext"))
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~80/10/10 train/val/test assignment keyed on the
    md5 of the CONTENT (not the doc id): byte-identical duplicates
    always land in the same split, so exact-duplicate leakage across
    the train/eval boundary is impossible by construction. Returns the
    per-(split, source) doc/token totals a mix designer checks before
    shipping the split.

    Row-local threshold + one partial→final aggregate to (3 x
    n_sources) groups — one corpus scan at any scale. Near-duplicate
    leakage needs the cluster-level variant: assign the split on the
    duplicate-cluster representative's digest (see
    `neardup_cluster_components`) and broadcast it back."""
    docs = load_table(spark, sf_dir, "documents")
    hv = md5_hex_digit(F.col("text"), 1) * 16 + md5_hex_digit(F.col("text"), 2)
    split = (
        F.when(hv < _TRAIN_BELOW, "train")
        .when(hv < _VAL_BELOW, "val")
        .otherwise("test")
    )
    return (
        docs.select(
            split.alias("split"),
            "source",
            F.size(F.split("text", " ")).cast("long").alias("toks"),
        )
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").cast("long").alias("n_tokens"),
        )
    )


# --- RAG-style overlapping chunk windows --------------------------------

_CHUNK_W, _CHUNK_S = 32, 16

_CHUNK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t,
         len(string_split(text, ' ')) AS n
  FROM documents),
chunks AS (
  SELECT doc_id, t,
         unnest(range(1 + (greatest(0, n - {_CHUNK_W}) + {_CHUNK_S - 1}) // {_CHUNK_S}))
           AS chunk_id
  FROM toks)
SELECT doc_id,
       CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(len(t[chunk_id * {_CHUNK_S} + 1 : chunk_id * {_CHUNK_S} + {_CHUNK_W}])
            AS BIGINT) AS n_chunk_tokens,
       md5(array_to_string(
             t[chunk_id * {_CHUNK_S} + 1 : chunk_id * {_CHUNK_S} + {_CHUNK_W}], ' '))
         AS chunk_md5
FROM chunks
"""


@register("rag_chunk_windows", oracle=_CHUNK_ORACLE, tags=("L6", "P3", "ext"))
def rag_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking — the RAG / context-window
    retrieval-unit construction: windows of 32 tokens at stride 16
    (50% overlap), each addressed (doc_id, chunk_id) and content-keyed
    by the md5 of the re-joined window (proving the chunk BYTES match
    cross-engine, not just the counts). A short doc yields exactly one
    chunk; the last window is allowed to run short rather than padding.

    Pure explode: one row fans out to ~n/stride rows with zero
    shuffles — whole-stage codegen end to end. At 100 TB the chunk
    stream feeds embedding + indexing; anything that groups chunks
    (dedup, inverted index) shuffles the 16-byte chunk_md5, never the
    chunk text."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    n_starts = F.expr(
        f"1 + (greatest(0, size(t) - {_CHUNK_W}) + {_CHUNK_S - 1}) div {_CHUNK_S}"
    )
    chunked = toks.select(
        "doc_id",
        "t",
        F.explode(F.sequence(F.lit(0).cast("long"), n_starts - 1)).alias("chunk_id"),
    )
    window = F.slice(
        F.col("t"), (F.col("chunk_id") * _CHUNK_S + 1).cast("int"), _CHUNK_W
    )
    return chunked.select(
        "doc_id",
        "chunk_id",
        F.size(window).cast("long").alias("n_chunk_tokens"),
        F.md5(F.array_join(window, " ")).alias("chunk_md5"),
    )


# --- incremental cross-corpus dedup -------------------------------------

_INGEST_ORACLE = """
WITH keyed AS (
  SELECT doc_id, source, md5(text) AS digest,
         CAST(substr(source, 4) AS INT) AS sn
  FROM documents),
corpus AS (SELECT DISTINCT digest FROM keyed WHERE sn < 10),
batch AS (SELECT doc_id, source, digest FROM keyed WHERE sn >= 10)
SELECT doc_id, source, digest
FROM batch
WHERE digest NOT IN (SELECT digest FROM corpus)
QUALIFY row_number() OVER (PARTITION BY digest ORDER BY doc_id) = 1
"""


@register("cross_corpus_dedup", oracle=_INGEST_ORACLE, tags=("L1", "J3", "ext"))
def cross_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: admit a new batch (here: sources
    src10+) only where its content digest appears neither in the
    existing corpus (src0-9) nor earlier in the batch itself — the
    shape every recurring crawl/ingest run executes, where re-deduping
    the whole corpus per ingest would be absurd.

    Both legs shuffle the 16-byte md5 digest with the text pruned
    before the exchange: an anti-join against the corpus digests, then
    a within-batch `keep_first`. At 100 TB the corpus digest table is
    stored bucketed by digest so the ingest anti-join co-locates with
    NO corpus re-shuffle (see `join_bucketed_fact_fact`), and a bloom
    filter over the corpus digests prunes most of the batch before the
    join even forms."""
    docs = load_table(spark, sf_dir, "documents")
    sn = F.substring("source", 4, 9).cast("int")
    keyed = docs.select(
        "doc_id", "source", F.md5("text").alias("digest"), sn.alias("sn")
    )
    corpus = keyed.filter(F.col("sn") < 10).select("digest").distinct()
    batch = keyed.filter(F.col("sn") >= 10).select("doc_id", "source", "digest")
    fresh = batch.join(corpus, "digest", "left_anti")
    return keep_first(fresh, keys=["digest"], order_by=["doc_id"]).select(
        "doc_id", "source", "digest"
    )


# --- GPT-style concat-and-pack sequence addressing ----------------------

_SEQ_LEN = 512

_PACK_ORACLE = f"""
WITH sized AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n
  FROM documents),
cum AS (
  SELECT doc_id, source, n,
         sum(n) OVER (PARTITION BY source ORDER BY doc_id
                      ROWS UNBOUNDED PRECEDING) AS c
  FROM sized)
SELECT doc_id, source,
       CAST(n AS BIGINT) AS n_tokens,
       CAST((c - n) // {_SEQ_LEN} AS BIGINT) AS seq_id,
       CAST((c - n) % {_SEQ_LEN} AS BIGINT) AS offset_in_seq
FROM cum
"""


@register("sequence_packing", oracle=_PACK_ORACLE, tags=("L8", "W3", "ext"), bench=True)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-pack sequence addressing — the GPT-style training
    batch layout: per source, documents concatenate in doc_id order
    into a token stream cut every 512 tokens; each doc gets the
    (seq_id, offset_in_seq) address where it STARTS (docs may span a
    boundary — the loader carries the tail into the next sequence, as
    concat-packing does; no padding waste).

    One integer cumulative-sum window per source (same shape and same
    salting escape hatch as `token_budget_per_source`), then row-local
    div/mod — exact on any engine. At 100 TB the addresses drive the
    sharded writer: everything with one seq_id lands in one training
    file, so the shuffle is on (source, seq_id), never a global
    sort."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", "source", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = sized.withColumn("c", F.sum("n_tokens").over(w))
    return cum.select(
        "doc_id",
        "source",
        "n_tokens",
        F.expr(f"(c - n_tokens) div {_SEQ_LEN}").alias("seq_id"),
        ((F.col("c") - F.col("n_tokens")) % _SEQ_LEN).alias("offset_in_seq"),
    )


# --- int8-quantized retrieval with exact rescore ------------------------

_DUCK_Q8 = (
    "greatest(-127, least(127, CAST(floor(CAST({x} AS DOUBLE) * 127) AS BIGINT)))"
)

_DUCK_QDOT = (
    "list_aggregate(list_transform(list_zip({a}, {b}), "
    f"x -> {_DUCK_Q8.format(x='x[1]')} * {_DUCK_Q8.format(x='x[2]')}), 'sum')"
)

_DUCK_DOT = (
    "list_aggregate(list_transform(list_zip({a}, {b}), "
    "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')"
)
_DUCK_NORM = (
    "sqrt(list_aggregate(list_transform({a}, "
    "v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum'))"
)

_QUANT_ORACLE = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id, e.label,
         {_DUCK_QDOT.format(a='e.embedding', b='q.qv')} AS qscore,
         round({_DUCK_DOT.format(a='e.embedding', b='q.qv')} /
               ({_DUCK_NORM.format(a='e.embedding')} * {_DUCK_NORM.format(a='q.qv')}),
               6) AS cos
  FROM embeddings e, q
  WHERE e.vec_id <> 0)
SELECT vec_id, label, CAST(qscore AS BIGINT) AS qscore, cos, rn FROM (
  SELECT *, row_number() OVER (ORDER BY qscore DESC, vec_id) AS rn FROM scored)
WHERE rn <= 10
"""


def _q8(x: Column) -> Column:
    """Symmetric int8 quantization, engine-exact: floor(x * 127)
    clamped to [-127, 127]. floor (not round) because double→int CAST
    rounds in DuckDB but truncates in Spark, while floor is identical
    IEEE in both."""
    return F.greatest(
        F.lit(-127).cast("long"),
        F.least(F.lit(127).cast("long"), F.floor(x.cast("double") * 127)),
    )


@register("quantized_topk_rescore", oracle=_QUANT_ORACLE, tags=("L3", "ext"))
def quantized_topk_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval with int8 quantization: candidates rank by
    the INTEGER dot product of symmetrically-quantized vectors
    (engine-exact — no float comparison anywhere in the ranking), and
    only the 10 survivors get the exact float64 cosine rescore. The
    production rationale: an int8 corpus is 4x smaller than float32
    (memory-bandwidth-bound scans go ~4x faster) and integer dot
    products SIMD-vectorize; the float corpus is touched only for k
    rows.

    One corpus scan against a broadcast query vector, TakeOrdered
    top-k (never a global sort), rescore on k rows. The ranking is
    bit-reproducible across engines because every compared value is an
    integer."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    )
    qdot = F.aggregate(
        F.zip_with("embedding", "qv", lambda a, b: _q8(a) * _q8(b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .select("vec_id", "label", qdot.alias("qscore"), "embedding", "qv")
    )
    top = topk_ranked(scored, 10, F.col("qscore").desc(), F.col("vec_id"))
    return top.select(
        "vec_id",
        "label",
        "qscore",
        F.round(cosine_similarity(F.col("embedding"), F.col("qv")), 6).alias("cos"),
        "rn",
    )


# --- BM25 lexical retrieval ---------------------------------------------

_BM25_TERMS = ("data", "merge", "stream")


def bm25_oracle(terms: tuple[str, ...] = _BM25_TERMS) -> str:
    """DuckDB oracle for ``bm25_topk`` for an arbitrary term tuple —
    shared between the registered entry (default terms) and
    tools/decade_scope.py, which queries the salted fixture with
    manifest terms."""
    in_list = ", ".join(f"'{t}'" for t in terms)
    cases = ",\n         ".join(
        f"max(CASE WHEN token = '{t}' THEN sc END) AS s{i + 1}"
        for i, t in enumerate(terms)
    )
    total = " + ".join(f"coalesce(s{i + 1}, 0)" for i in range(len(terms)))
    return f"""
WITH sized AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
stats AS (
  SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM sized),
tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
tf AS (
  SELECT doc_id, token, count(*) AS tf FROM tok
  WHERE token IN ({in_list}) GROUP BY 1, 2),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT t.doc_id, t.token,
         ln(1 + (n_docs - df + 0.5) / (df + 0.5))
           * (t.tf * 2.2)
           / (t.tf + 1.2 * (0.25 + 0.75 * s.dl / (CAST(sum_dl AS DOUBLE) / n_docs)))
           AS sc
  FROM tf t JOIN dfreq USING (token) JOIN sized s USING (doc_id), stats),
per_doc AS (
  SELECT doc_id,
         {cases}
  FROM scored GROUP BY doc_id)
SELECT doc_id, bm25, rn FROM (
  SELECT doc_id,
         round({total}, 6) AS bm25,
         row_number() OVER (
           ORDER BY round({total}, 6)
             DESC, doc_id) AS rn
  FROM per_doc) WHERE rn <= 20
"""


_BM25_ORACLE = bm25_oracle()


@register("bm25_topk", oracle=_BM25_ORACLE, tags=("L3", "L7", "ext"), bench=True)
def bm25_topk(
    spark: SparkSession,
    sf_dir: str,
    terms: tuple[str, ...] = _BM25_TERMS,
) -> DataFrame:
    """Okapi BM25 lexical retrieval (k1=1.2, b=0.75) — the text-side
    counterpart of `similarity_topk`: top-20 docs for a fixed 3-term
    query, with document-length normalization (the part plain TF-IDF
    lacks). Docs containing none of the query terms score 0 and are
    excluded. Per-(doc, term) scores are singletons (max over a 1-row
    group), combined in a FIXED per-term order — no cross-row float
    accumulation anywhere, so the ranking is engine-exact at 6
    decimals.

    100 TB shape: tf is one explode + agg keyed (doc, term) with the
    term filter applied in the explode stage; df and the corpus stats
    are tiny and broadcast; the doc-length attach is a join whose
    PROBE side (tf — only docs containing a query term) is the small
    side, so AQE broadcasts it and the corpus-cardinality sized table
    streams map-side, never shuffling; scoring is row-local; top-k is
    TakeOrdered. In a full search engine the tf table IS the inverted
    index — materialize it bucketed by term and the per-query cost is
    a term-bucket lookup, not a corpus scan.

    r17 note (VERDICT r16 #2 confirm-or-revert): the r16 "row-local
    array counts" rewrite (per-term ``F.filter`` over the token array,
    zero Generate, one 1-row broadcast) was REVERTED to this form.
    Clean-window interleaved A/B read the r16 form SLOWER at both
    scales — sf0.1: 0.458 s (this form) vs 0.566 s; sf1 decade
    fixture: 0.498 s vs 0.637 s — because k+1 lambda traversals of
    every token array cost more than one codegen'd explode streaming
    tokens through an IN filter, and the join this form pays never
    touches corpus-scale data (AQE broadcasts the tf side). A hybrid
    (dl carried through the explode, no sized join) also lost to this
    form at both scales (0.545/0.618 s) — the wider Generate costs
    more than the map-side join it removes.

    terms (probe knob, default the registered 3-term query): the
    decade fixture salts the vocabulary per replica, so the probe
    passes the manifest's replica-0-salted terms — fixed query, 10x
    corpus — to get a non-degenerate retrieval decade reading; oracle
    parity holds for any term tuple via ``bm25_oracle``."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select("doc_id", F.size(F.split("text", " ")).cast("long").alias("dl"))
    stats = sized.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").cast("long").alias("sum_dl")
    )
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token").isin(*terms))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n, dfc, tfc, dl = F.col("n_docs"), F.col("df"), F.col("tf"), F.col("dl")
    avgdl = F.col("sum_dl").cast("double") / n
    sc = (
        F.log(F.lit(1) + (n - dfc + 0.5) / (dfc + 0.5))
        * (tfc * 2.2)
        / (tfc + 1.2 * (0.25 + 0.75 * dl / avgdl))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .join(sized, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "token", sc.alias("sc"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("token") == t, F.col("sc"))).alias(f"s{i + 1}")
            for i, t in enumerate(terms)
        ]
    )
    bm25 = F.round(
        sum(F.coalesce(F.col(f"s{i + 1}"), F.lit(0)) for i in range(len(terms))),
        6,
    )
    return topk_ranked(
        per_doc.select("doc_id", bm25.alias("bm25")), 20,
        F.col("bm25").desc(), F.col("doc_id"),
    )


# --- cluster-level leakage-safe split -----------------------------------

_CLUSTER_SPLIT_ORACLE = f"""
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
), comp AS (
  SELECT a AS doc_id, min(b) AS cluster FROM reach GROUP BY a
), labeled AS (
  SELECT c.cluster,
         len(string_split(d.text, ' ')) AS n_toks,
         (instr('0123456789abcdef',
                substr(md5(CAST(c.cluster AS VARCHAR)), 1, 1)) - 1) * 16
           + (instr('0123456789abcdef',
                    substr(md5(CAST(c.cluster AS VARCHAR)), 2, 1)) - 1) AS hv
  FROM comp c JOIN documents d USING (doc_id))
SELECT CASE WHEN hv < {_TRAIN_BELOW} THEN 'train'
            WHEN hv < {_VAL_BELOW} THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       count(DISTINCT cluster) AS n_clusters,
       CAST(sum(n_toks) AS BIGINT) AS n_tokens
FROM labeled
GROUP BY 1
"""


@register("cluster_safe_split", oracle=_CLUSTER_SPLIT_ORACLE, tags=("L2", "L8", "ext"))
def cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NEAR-duplicate-safe upgrade of `train_val_test_split`: the
    split is keyed on the md5 of the duplicate-CLUSTER id (the min
    doc_id of each MinHash-band connected component, from
    `neardup_cluster_components`), so near-duplicate docs — not just
    byte-identical ones — can never straddle the train/eval boundary.
    Returns per-split doc/cluster/token totals.

    Cost on top of the clustering itself (iterative, see
    `operators/components.py`): one join of the (doc_id, cluster)
    labels back to doc sizes and one 3-group aggregate. At 100 TB the
    labels table is (long, long) pairs — a fraction of corpus width —
    and the join shuffles ids only, never text. The oracle re-derives
    the identical closure with a recursive CTE, then applies the same
    split arithmetic — exact agreement certifies both stages
    composed."""
    from gostream_spark.queries.dedup_advanced import neardup_cluster_components

    comp = neardup_cluster_components(spark, sf_dir)
    sized = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_toks")
    )
    ckey = F.col("cluster").cast("string")
    hv = md5_hex_digit(ckey, 1) * 16 + md5_hex_digit(ckey, 2)
    split = (
        F.when(hv < _TRAIN_BELOW, "train")
        .when(hv < _VAL_BELOW, "val")
        .otherwise("test")
    )
    return (
        comp.join(sized, "doc_id")
        .select(split.alias("split"), "cluster", "n_toks")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("cluster").alias("n_clusters"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
        )
    )


# --- hybrid retrieval: reciprocal-rank fusion ---------------------------

_RRF_K = 60

_RRF_ORACLE = f"""
WITH lex AS (
  SELECT doc_id, count(*) AS hits
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents)
  WHERE tk IN ('data', 'merge', 'stream')
  GROUP BY doc_id),
lexr AS (
  SELECT doc_id, rn AS r_lex FROM (
    SELECT doc_id, row_number() OVER (ORDER BY hits DESC, doc_id) AS rn FROM lex)
  WHERE rn <= 20),
vecr AS (
  SELECT vec_id AS doc_id, rn AS r_vec FROM (
    SELECT e.vec_id,
           row_number() OVER (
             ORDER BY round({_duck_cosine('e.embedding', 'q.qv')}, 6) DESC, e.vec_id) AS rn
    FROM embeddings e, (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
    WHERE e.vec_id <> 0)
  WHERE rn <= 20),
fused AS (
  SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
         coalesce(l.r_lex, -1) AS r_lex,
         coalesce(v.r_vec, -1) AS r_vec,
         round(coalesce(1.0 / ({_RRF_K} + l.r_lex), 0)
               + coalesce(1.0 / ({_RRF_K} + v.r_vec), 0), 6) AS rrf
  FROM lexr l FULL OUTER JOIN vecr v ON l.doc_id = v.doc_id)
SELECT doc_id, r_lex, r_vec, rrf, rn FROM (
  SELECT *, row_number() OVER (ORDER BY rrf DESC, doc_id) AS rn FROM fused)
WHERE rn <= 10
"""


@register("hybrid_rrf_topk", oracle=_RRF_ORACLE, tags=("L3", "J2", "ext"), bench=True)
def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion: the lexical top-20
    (query-term hit count) and the vector top-20 (cosine vs the
    vec-0 query) merge by RRF score 1/(60+rank) — the
    score-scale-free fusion every production RAG stack runs, with -1
    sentinels marking single-channel hits. Both channels end in a
    TakeOrdered top-k, so the fusion join touches 40 rows regardless
    of corpus size; ranks (not raw scores) cross the join, which is
    what makes the method robust to BM25-vs-cosine scale mismatch.
    doc_id and vec_id share the fixture keyspace (parallel tables) —
    the id join IS the doc-to-embedding link."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    # r16: hit counting is row-local (size of the filtered token
    # array) — the token explode + per-doc shuffle of the old lexical
    # channel served no purpose for a fixed term set. Measured at
    # sf0.1: 1.006 s vs 1.060 s interleaved; the lexical channel is
    # now scan → TakeOrdered with zero exchanges.
    lex = docs.select(
        "doc_id",
        F.size(
            F.filter(F.split("text", " "), lambda t: t.isin(*_BM25_TERMS))
        ).cast("long").alias("hits"),
    ).filter(F.col("hits") > 0)
    lexr = topk_ranked(lex, 20, F.col("hits").desc(), F.col("doc_id")).select(
        "doc_id", F.col("rn").alias("r_lex")
    )
    q = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    )
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine_similarity(F.col("embedding"), F.col("qv")), 6).alias("cos"),
        )
    )
    vecr = topk_ranked(scored, 20, F.col("cos").desc(), F.col("doc_id")).select(
        "doc_id", F.col("rn").alias("r_vec")
    )
    fused = (
        lexr.join(vecr, "doc_id", "full")
        .select(
            "doc_id",
            F.coalesce("r_lex", F.lit(-1)).alias("r_lex"),
            F.coalesce("r_vec", F.lit(-1)).alias("r_vec"),
            F.round(
                F.coalesce(1.0 / (_RRF_K + F.col("r_lex")), F.lit(0))
                + F.coalesce(1.0 / (_RRF_K + F.col("r_vec")), F.lit(0)),
                6,
            ).alias("rrf"),
        )
    )
    return topk_ranked(fused, 10, F.col("rrf").desc(), F.col("doc_id"))
