"""Degenerate-input parity: the queries must agree with their DuckDB
oracles on PATHOLOGICAL inputs — empty text, sub-shingle text,
zero-byte payloads, tied timestamps, NULL values, zero-norm vectors,
orders without lineitems — where Spark's sequence() would otherwise
descend or throw and ANSI division would fail. The production fixtures
never contain these shapes; a regenerated fixture or a real corpus
will. The fixtures are staged by ``tools.degenerate_probe.stage`` and
every case checks through ``tools.oracle.compare``."""

from __future__ import annotations

import shutil

import pytest

from gostream_spark.registry import get_query
from tools.degenerate_probe import stage
from tools.oracle import compare, oracle_con

QUERIES = [
    # generator-expression queries (sequence/slice over size-derived
    # ranges) — the class where degenerate sizes descend or throw
    "rolling_hash_chunks",
    "multimodal_chunk_manifest",
    "multimodal_frame_sample",
    "winnowing_fingerprint",
    "winnowing_candidate_pairs",
    "rag_chunk_windows",
    "sequence_packing",
    "top_bigrams",
    # sketch/banding queries — partial sketches must exclude the doc
    # on BOTH engine sides (minhash_bottomk round-5 fix)
    "minhash_md5_bands",
    "minhash_bottomk_bands",
    "simhash_dedup",
    "neardup_jaccard_pairs",
    "neardup_cluster_components",
    # Python-worker paths — empty text must not divide by zero
    "mapinpandas_doc_features",
    "udtf_tokenize",
    "token_count",
    "text_token_stats",
    # Arrow-buffer path — empty payload slices must checksum to 0
    "multimodal_decode_features",
    "multimodal_decode_arrow",
    # corpus-statistic joins — sub-5-token docs keep zero-gram rows
    "dup_ngram_fraction",
    "unigram_logprob_quality",
    # two-pass sketch + verify — empty-text token ('' from split) must
    # count identically on both engines; sub-shingle docs must drop on
    # both sides of the prefix-filter join
    "heavy_hitter_tokens",
    "heavy_hitter_sketch_builtin",
    "sample_weighted_priority",
    "neardup_prefix_filter_pairs",
    # r7 sweep of the remaining log/ratio/sampling-boundary shapes:
    # idf logs over empty docs, ln-quantized importance ratios,
    # terciles on tiny per-language groups, entropy of the ''-token,
    # power-law fits on near-empty vocabularies, set-ratio divisions
    # on sub-shingle docs, split/sample boundaries at n < buckets —
    # all probed green on this fixture before being pinned here
    "bm25_topk",
    "dsir_importance_weights",
    "ccnet_perplexity_buckets",
    "token_entropy_gate",
    "text_quality_score",
    "quality_classifier_score",
    "zipf_slope_by_lang",
    "lang_id_heuristic",
    "tfidf_top_terms",
    "source_kl_divergence",
    "sample_temperature_rebalance",
    "bpe_pair_frequencies",
    "neardup_containment_pairs",
    "neardup_levenshtein",
    "train_val_test_split",
    "cluster_safe_split",
]


@pytest.fixture(scope="module")
def degenerate_dir(spark):
    """The full degenerate fixture (tools/degenerate_probe.py)."""
    d = stage(spark)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _check(spark, d, name):
    q = get_query(name)
    con = oracle_con(d)
    try:
        compare(q.fn(spark, d), q.oracle, con)
    finally:
        con.close()


@pytest.mark.parametrize("name", QUERIES)
def test_degenerate_docs_match_oracle(spark, degenerate_dir, name):
    _check(spark, degenerate_dir, name)


EVENT_QUERIES = [
    "session_window", "tumbling_window", "sliding_window",
    "ewma_smoothing", "zscore_outliers", "event_transition_matrix",
    "events_dedup_first", "events_scd2_intervals", "join_asof",
    "purchase_attribution_last_touch",
    # r7 sweep of the remaining NULL-value / tied-timestamp / lone-user
    # shapes: NULL payloads must dead-letter (not vanish from both
    # routing counts), lag-1 autocorrelation and changepoint stats on
    # single-point users, interpolation across a NULL reading, as-of
    # tolerance at exact tie distance, PSI log-ratios with empty
    # buckets — all probed green on this fixture before being pinned
    "dlq_malformed_json_routing",
    "autocorr_daily_lag1",
    "cusum_changepoint",
    "mad_robust_outliers",
    "twap_per_user",
    "linear_interp_hourly",
    "events_resample_gapfill",
    "join_asof_forward",
    "join_asof_tolerance",
    "pit_join_state_at_purchase",
    "gaps_islands_streaks",
    "session_window_capped",
    "session_window_dynamic_gap",
    "peak_concurrent_sessions",
    "value_drift_psi",
    "user_survival_curve",
]
EMB_QUERIES = [
    # every cosine query must survive a zero-norm vector (ANSI mode
    # would throw DIVIDE_BY_ZERO without the try_divide guard) and
    # agree with DuckDB's float-div-by-zero -> NULL semantics
    "similarity_topk", "similarity_pairs", "knn_join",
    "nearest_centroid", "embedding_dedup", "ivf_topk",
    "quantized_topk_rescore",
    # r7 additions: the cluster-scoped dedup family must agree when a
    # cluster holds a zero-norm member; MMR must DROP zero-norm
    # candidates from the pool (undefined cosine would crash the
    # greedy loop) and survive a pool smaller than the selection
    # budget; dim stats must derive dimensionality from the data, not
    # a hardcoded fixture width
    "semantic_dedup_semdedup", "semantic_dedup_scaled",
    "ann_recall_at_k", "knn_label_disagreement",
    "mmr_diversified_topk", "embedding_dim_stats",
    "embedding_centroid_separation", "embedding_minmax_normalize",
    # r8 probe find: the hyperplane LSH must build its plane vectors
    # at the embedding's own dimensionality — a hardcoded 64-dim
    # plane zip_with-pads shorter vectors with NULLs and every bucket
    # silently degrades to NULL (verdict column catches it)
    "similarity_lsh_buckets",
]


@pytest.mark.parametrize("name", EVENT_QUERIES)
def test_degenerate_events_match_oracle(spark, degenerate_dir, name):
    """Tied timestamps, NULL values, lone-event users, negative and
    repeated values — the shapes real event streams contain that the
    generated fixtures don't."""
    _check(spark, degenerate_dir, name)


@pytest.mark.parametrize("name", EMB_QUERIES)
def test_degenerate_embeddings_match_oracle(spark, degenerate_dir, name):
    """Zero-norm, antipodal, identical and denormal vectors through
    every cosine query — parity depends on try_divide matching
    DuckDB's division-by-zero -> NULL."""
    _check(spark, degenerate_dir, name)


# --- star-schema degenerate shapes (r7, found by tools/degenerate_probe) --

STAR_QUERIES = [
    # regexp_replace must be GLOBAL on both engines (multi-space names)
    "string_functions",
    # n<2 group / zero pooled variance must yield NULL, not an ANSI
    # DIVIDE_BY_ZERO that kills the job
    "welch_ttest_balance",
    # zero-revenue (discount=1.0) and empty-filter global aggregates
    "sql_forecast_revenue",
    "small_quantity_revenue",
    "join_promo_share",
]


@pytest.mark.parametrize("name", STAR_QUERIES)
def test_degenerate_star_match_oracle(spark, degenerate_dir, name):
    """Orders without lineitems, 100% discounts (zero revenue sums),
    zero/negative balances, multi-space part names — the relational
    shapes the benign driver fixtures never produce."""
    _check(spark, degenerate_dir, name)


# --- NULL-group-key shapes (r8, found by self-review) --------------------
#
# groupBy keeps a NULL key as a real group, but a plain equi-join (and
# DuckDB's count(DISTINCT ...)) silently skips it — so every guarantee
# query whose verification re-joins per-group stats onto the input must
# be null-safe on the group key, and every distinct-count must agree on
# whether the NULL group counts. These fixtures put a NULL in each
# table's grouping column; none of the generated fixtures ever do.

NULLKEY_DOC_QUERIES = [
    # NULL text forms a NULL token-set key: excluded from n_tokensets
    # on both engines, still counted in n_docs
    "simhash64_xxhash_buckets",
    # NULL source is a legal stream key (applyInPandasWithState key
    # tuple (None,)): its verdict joins must match null-safely
    "streaming_heavy_hitters_stateful",
]
NULLKEY_EVENT_QUERIES = [
    # NULL event_type group must be verified, not dropped by the
    # stats re-join; all-NULL user_id group => NULL sketch => verdict
    # must stay a literal 1, not NULL
    "agg_approx_percentile",
    "hll_mergeable_rollup",
]
NULLKEY_EMB_QUERIES = [
    # NULL / empty / NULL-element embeddings must bucket to NULL and
    # be called out by null_bucket_iff_malformed (the other verdicts
    # are structurally blind to a silently-degraded bucket)
    "similarity_lsh_buckets",
    # malformed embeddings must not flip the Lloyd partition verdict
    # (ADVICE r8; the all-malformed edge is pinned separately below)
    "kmeans_refined_clusters",
]


@pytest.fixture(scope="module")
def degenerate_nullkey_dir(spark):
    ts = "2024-01-05 12:00:00"
    d = stage(spark, {
        "documents": [
            (1, "alpha beta alpha", "en", None, 16),   # NULL source, real text
            (2, None, "en", "src1", 0),                # NULL text, real source
            (3, None, "en", None, 0),                  # both NULL
            (4, "alpha beta alpha", "en", "src1", 16), # same tokens as doc 1
            (5, "gamma delta", "de", "src2", 11),
        ],
        "events": [
            (1, ts, 100, None, 1.5, "{}"),    # NULL event_type group...
            (2, ts, 101, None, 2.5, "{}"),    # ...with two users
            (3, ts, None, "nu", 3.0, "{}"),   # all-NULL user_id group
            (4, ts, None, "nu", None, "{}"),  # ...and a NULL value
            (5, ts, 102, "click", 1.0, "{}"),
        ],
        "embeddings": [
            (1, [1.0, 0.0, 0.0, 0.0], 0),
            (2, None, 0),                      # NULL embedding
            (3, [0.5, None, 0.25, 0.0], 1),    # NULL element
            (4, [], 1),                        # empty array
            (5, [1.0, 0.0, 0.0, 0.0], 2),      # identical to vec 1
        ],
    })
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("name", NULLKEY_DOC_QUERIES)
def test_nullkey_docs_match_oracle(spark, degenerate_nullkey_dir, name):
    _check(spark, degenerate_nullkey_dir, name)


@pytest.mark.parametrize("name", NULLKEY_EVENT_QUERIES)
def test_nullkey_events_match_oracle(spark, degenerate_nullkey_dir, name):
    _check(spark, degenerate_nullkey_dir, name)


@pytest.mark.parametrize("name", NULLKEY_EMB_QUERIES)
def test_nullkey_embeddings_match_oracle(spark, degenerate_nullkey_dir, name):
    _check(spark, degenerate_nullkey_dir, name)


def test_kmeans_all_malformed_and_null_vec_ids(spark):
    """ADVICE r8 edges for kmeans_refined_clusters, two fixtures:
    (a) EVERY embedding malformed (NULL/empty) -> the seed centroids
    are zero rows, the crossJoin assignment is empty, and the
    partition/cluster verdicts must be VACUOUSLY true rather than 0
    against the literal-1 oracle; (b) NULL vec_ids with good
    embeddings -> the assignment window collapses them into one key,
    so the partition check must count keys null-safely."""
    for rows in [
        # (a) all-malformed: NULL and empty embeddings only
        [(1, None, 0), (2, [], 1), (3, None, None)],
        # (b) two NULL vec_ids + one real, all embeddings good
        [
            (None, [1.0, 0.0, 0.0, 0.0], 0),
            (None, [0.0, 1.0, 0.0, 0.0], 0),
            (7, [0.0, 0.0, 1.0, 0.0], 1),
        ],
    ]:
        d = stage(spark, {"embeddings": rows})
        try:
            _check(spark, d, "kmeans_refined_clusters")
        finally:
            shutil.rmtree(d, ignore_errors=True)


def test_exact_substr_dedup_null_doc_id_sits_out(spark):
    """A NULL doc_id cannot take a deterministic place in the keeper
    order (Spark struct-min sorts NULLS FIRST, SQL ORDER BY defaults
    NULLS LAST), so the operator excludes such rows from the dedup
    pass on BOTH engines and passes their text through verbatim;
    their grams must neither claim keepership nor be cut. Here the
    NULL-id doc shares its whole text with docs 1 and 2: doc 1 stays
    the keeper, doc 2 is fully cut, the NULL-id doc is untouched."""
    text = "a b c d e f"
    d = stage(spark, {"documents": [
        (1, text, "en", "s", 11),
        (None, text, "en", "s", 11),
        (2, text, "en", "s", 11),
        (3, "x y z", "en", "s", 5),
    ]})
    try:
        _check(spark, d, "exact_substr_dedup")
        from gostream_spark.queries.corpus_ops import exact_substr_dedup

        rows = {
            r.doc_id: (r.n_removed, r.clean_text)
            for r in exact_substr_dedup(spark, d).collect()
        }
        assert rows[1] == (0, text)
        assert rows[2] == (6, "")
        assert rows[None] == (0, text)
        assert rows[3] == (0, "x y z")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_agg_first_last_collect_tied_balance_extremum(spark):
    """Two customers tied at the segment-max (and two at the min)
    balance: without the folded tie-break each engine's arg-extreme
    is free to pick either name. The sf0.01 fixture already contains
    a tied c_acctbal pair, so this is a live hazard, not a
    hypothetical; the fold must make both engines pick the higher
    custkey on max and the lower on min."""
    d = stage(
        spark,
        {"customer": [
            (1, "alice", 10, 500.0, "SEG"),
            (2, "bob", 11, 500.0, "SEG"),     # tied max; custkey 2 wins
            (3, "carol", 12, -10.0, "SEG"),
            (4, "dave", 13, -10.0, "SEG"),    # tied min; custkey 3 wins min
        ]},
    )
    try:
        _check(spark, d, "agg_first_last_collect")
        from gostream_spark.queries.aggregation import agg_first_last_collect

        (row,) = agg_first_last_collect(spark, d).collect()
        assert row.richest_customer == "bob"
        assert row.poorest_customer == "carol"
    finally:
        shutil.rmtree(d, ignore_errors=True)
