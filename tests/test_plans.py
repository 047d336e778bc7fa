"""Physical-plan regression tests — pin the scale properties SCALE.md
claims, so a refactor that silently drops a pushdown or broadcasts a
fact table fails CI, not the 100 TB run."""

from __future__ import annotations

import pytest

from gostream_spark.io import load_table
from gostream_spark.registry import get_query


def _plan(spark, sf_dir, name: str) -> str:
    df = get_query(name).fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _require_spread(spark, sf_dir) -> None:
    """spread_for_compute only inserts its round-robin exchange when the
    documents scan has fewer splits than the cluster's parallelism; on a
    low-core runner (defaultParallelism <= input splits) the repartition
    is a deliberate no-op and the Exchange assertions below would fail
    spuriously — skip them there instead."""
    scan_parts = load_table(spark, sf_dir, "documents").rdd.getNumPartitions()
    if scan_parts >= spark.sparkContext.defaultParallelism:
        pytest.skip(
            f"spread_for_compute is a no-op here (scan splits {scan_parts} >= "
            f"defaultParallelism {spark.sparkContext.defaultParallelism})"
        )


def test_flagship_pushdown_and_single_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # partial -> final hash aggregate with exactly one shuffle between
    assert plan.count("Exchange hashpartitioning") == 1
    assert "HashAggregate" in plan


def test_star_join_is_all_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_star_revenue")
    # four dimension-side broadcasts; lineitem streams through them
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan
    # the only shuffle is the final 5-row aggregation
    assert plan.count("Exchange hashpartitioning") == 1
    # date filter pushed into the orders scan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_topk_global_is_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "topk_global")
    assert "TakeOrderedAndProject" in plan


def test_lang_filter_pushed_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "lang_source_stats")
    assert "In(lang" in plan


def test_similarity_topk_broadcasts_query_vector(spark, sf_dir):
    plan = _plan(spark, sf_dir, "similarity_topk")
    # 1-row query side is broadcast (nested-loop over broadcast),
    # corpus side is never shuffled for the join
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dedup_shuffles_once(spark, sf_dir):
    plan = _plan(spark, sf_dir, "docs_dedup_exact")
    assert plan.count("Exchange hashpartitioning") == 1


def test_corpus_prep_single_wide_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "corpus_prep_pipeline")
    # lang filter pushed into the documents scan
    assert "In(lang" in plan
    # exactly two exchanges: the text-keyed dedup aggregate and the
    # tiny final (lang, source) aggregate. r16: the dedup is a
    # min(struct)/count hash aggregate — partial aggregation collapses
    # a viral duplicate's copy set map-side (the old count+row_number
    # windows sorted the corpus by text and gave the Zipf head to one
    # window partition); no Window/Sort may reappear.
    assert plan.count("Exchange hashpartitioning") == 2
    assert "partial_min" in plan or "partial min" in plan.lower()
    assert "WindowGroupLimit" not in plan and "WindowExec" not in plan


def test_digest_dedup_prunes_text_before_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "docs_dedup_digest")
    # one digest-keyed shuffle (only the 16-byte digest + surviving
    # columns cross the wire; md5(text) is computed map-side in the
    # pre-exchange Project, so text dies at the scan boundary)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "hashpartitioning(digest" in plan
    # every mention of the text column is in the scan/project segment
    # BEFORE the exchange (plan string is top-down: exchange appears
    # above the scan, so text# must not occur above the exchange line)
    above_exchange = plan[: plan.index("Exchange hashpartitioning")]
    assert "text#" not in above_exchange


def test_minhash_bands_no_join(spark, sf_dir):
    for name in ("minhash_md5_bands", "minhash_bottomk_bands"):
        plan = _plan(spark, sf_dir, name)
        # candidate generation is aggregation-only: no join operator of
        # any kind may appear (an all-pairs join here would be the
        # classic 100 TB scale-killer)
        for op in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
                   "CartesianProduct", "ShuffledHashJoin"):
            assert op not in plan


def test_bottomk_minhash_hashes_once(spark, sf_dir):
    # The one-permutation sketch must hash each shingle ONCE: the
    # k-independent-hashes twin carries 8 per-shingle md5 transforms
    # (12 md5 exprs total incl. bands); the bottom-k plan must stay
    # at half that (1 shingle-level transform + 4 band hashes).
    old = _plan(spark, sf_dir, "minhash_md5_bands")
    new = _plan(spark, sf_dir, "minhash_bottomk_bands")
    assert new.count("md5(") * 2 <= old.count("md5(")


def test_minhash_compute_parallelized_not_in_scan_stage(spark, sf_dir):
    # Both banding variants spread_for_compute() the unsplittable
    # fixture file; ALL sketch hashing must sit ABOVE that exchange
    # (a filter referencing the sketch would be alias-substituted and
    # pushed below it, re-serializing the compute — the regression
    # this test pins).
    _require_spread(spark, sf_dir)
    for name in ("minhash_md5_bands", "minhash_bottomk_bands"):
        plan = _plan(spark, sf_dir, name)
        assert "Exchange RoundRobinPartitioning" in plan
        below = plan[plan.index("Exchange RoundRobinPartitioning"):]
        assert "md5(" not in below
        assert "array_sort" not in below


def test_spread_sketchers_hash_above_exchange(spark, sf_dir):
    # Every spread_for_compute sketcher must keep its per-row hash
    # work ABOVE the round-robin exchange — below it the compute runs
    # in the (possibly single-task) scan stage the spread exists to
    # escape.
    _require_spread(spark, sf_dir)
    for name in ("simhash_dedup", "rolling_hash_chunks", "doc_fingerprint"):
        plan = _plan(spark, sf_dir, name)
        assert "Exchange RoundRobinPartitioning" in plan, name
        below = plan[plan.index("Exchange RoundRobinPartitioning"):]
        assert "md5(" not in below, name


def test_global_topk_is_take_ordered_not_window(spark, sf_dir):
    # Ranked global top-k queries must compile to TakeOrderedAndProject
    # (per-partition heap + k·p merge); the row_number window may only
    # run over the k survivors. A `row_number over Window.orderBy()
    # <= k` formulation instead funnels the ENTIRE input through one
    # task ("No Partition Defined for Window" warning) — the
    # regression this test pins.
    for name in (
        "similarity_topk",
        "similarity_pairs",
        "neardup_jaccard_pairs",
        "top_bigrams",
        "tfidf_top_terms",
        "neardup_levenshtein",
        "ivf_topk",
        "sort_multi_key",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "TakeOrderedAndProject" in plan, name
        # the window must consume the TakeOrdered result, not feed it
        assert "Window" not in plan.split("TakeOrderedAndProject")[-1], name


def test_mapinpandas_python_stage_above_exchange(spark, sf_dir):
    # The Arrow-batched Python stage must consume the spread
    # partitioning, not the raw scan's.
    _require_spread(spark, sf_dir)
    plan = _plan(spark, sf_dir, "mapinpandas_doc_features")
    assert "Exchange RoundRobinPartitioning" in plan
    below = plan[plan.index("Exchange RoundRobinPartitioning"):]
    assert "MapInPandas" not in below


def test_corpus_ops_scale_shapes(spark, sf_dir):
    # Decontamination: the benchmark n-gram set must BROADCAST (eval
    # suites are tiny; the 100 TB corpus side must never sort-merge)
    plan = _plan(spark, sf_dir, "decontaminate_ngrams")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

    # Repetition quality rules are pure row-local HOF expressions:
    # ZERO exchanges — the whole op runs inside the scan stage
    plan = _plan(spark, sf_dir, "quality_repetition_rules")
    assert "Exchange" not in plan
    assert "Join" not in plan

    # Stratified sampling: hash-filter then ONE partial->final agg
    plan = _plan(spark, sf_dir, "sample_stratified")
    assert plan.count("Exchange hashpartitioning") == 1

    # Shuffle-order / token-budget windows must partition (by shard /
    # source) — never an unpartitioned global-sort window
    for name in ("corpus_shuffle_order", "token_budget_per_source"):
        plan = _plan(spark, sf_dir, name)
        assert "Window" in plan, name
        assert "SinglePartition" not in plan, name


def test_knn_join_broadcasts_queries_no_smj(spark, sf_dir):
    # The query set must broadcast (BroadcastNestedLoopJoin: map-side
    # scoring of each corpus row against all broadcast queries); a
    # SortMergeJoin or corpus-side self-join here would mean the
    # corpus is being shuffled or squared — the 100 TB killer.
    plan = _plan(spark, sf_dir, "knn_join")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1  # per-query top-k only


def test_training_assembly_scale_shapes(spark, sf_dir):
    # Split assignment is a row-local md5 threshold + ONE
    # partial->final aggregate; no join anywhere
    plan = _plan(spark, sf_dir, "train_val_test_split")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan

    # Chunking is explode-only: ZERO exchanges, whole-stage row-local
    plan = _plan(spark, sf_dir, "rag_chunk_windows")
    assert "Exchange" not in plan
    assert "Generate explode" in plan

    # Incremental dedup: an anti-join on the digest with the TEXT
    # pruned before any exchange (shuffling document bytes to dedup a
    # 16-byte key is the 100 TB anti-pattern)
    plan = _plan(spark, sf_dir, "cross_corpus_dedup")
    assert "LeftAnti" in plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line

    # Sequence packing: one window shuffle on source, never a
    # single-partition global window
    plan = _plan(spark, sf_dir, "sequence_packing")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan
    assert "SinglePartition" not in plan

    # Quantized retrieval: broadcast query vector + TakeOrdered top-k;
    # the corpus must never shuffle or self-join
    plan = _plan(spark, sf_dir, "quantized_topk_rescore")
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bm25_broadcasts_stats_take_ordered(spark, sf_dir):
    # df/corpus-stats sides broadcast; ranking is TakeOrdered — the
    # corpus-scale legs (tf x doc-length) may shuffle on doc_id but a
    # sort-merge against the tiny stats sides would be wrong. (The r16
    # zero-Generate row-local form was REVERTED in r17: interleaved
    # A/B read it slower at both sf0.1 and sf1 — see the query
    # docstring for the numbers.)
    plan = _plan(spark, sf_dir, "bm25_topk")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastExchange") >= 2
    assert "SortMergeJoin" not in plan


def test_winnowing_is_row_local(spark, sf_dir):
    """Winnowing must stay a single row-local pass: no join, no
    aggregate shuffle — the only permissible Exchange is the
    spread_for_compute round-robin on degenerate local layouts."""
    plan = _plan(spark, sf_dir, "winnowing_fingerprint")
    assert "Join" not in plan
    assert "Exchange hashpartitioning" not in plan
    assert "WindowExec" not in plan


def test_pii_scrub_is_shuffle_free(spark, sf_dir):
    plan = _plan(spark, sf_dir, "scrub_pii_regex")
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_ewma_single_user_shuffle(spark, sf_dir):
    """EWMA: one hash shuffle on user_id feeding a partitioned window
    — never an unpartitioned (single-task) window."""
    plan = _plan(spark, sf_dir, "ewma_smoothing")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in plan
    # pushdown of the user_id sampling filter into the scan
    assert "PushedFilters" in plan


def test_chunk_manifest_is_shuffle_free(spark, sf_dir):
    """The manifest explode must stay row-local — shuffling blobs (or
    even their manifests) before the explode would defeat the point."""
    plan = _plan(spark, sf_dir, "multimodal_chunk_manifest")
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_abc_two_pass_has_no_global_window(spark, sf_dir):
    """abc_revenue_classes: the cumulative-revenue window must be
    PARTITIONED (by the distribution-sketch bucket) — the registry's
    last global ordered window was removed in round 5. A global
    window node renders with an empty partition list (one `], [`
    bracket group instead of two)."""
    plan = _plan(spark, sf_dir, "abc_revenue_classes")
    win_lines = [l for l in plan.splitlines() if "Window [" in l]
    assert win_lines, "expected a windowed cumulative sum in the plan"
    for line in win_lines:
        assert line.count("], [") == 2, f"unpartitioned window: {line.strip()[:160]}"
    # and the cumulative window must be keyed by the sketch bucket
    assert "windowspecdefinition(_bucket" in plan


def test_q17_no_nested_loop_and_grouped_build(spark, sf_dir):
    """Decorrelated Q17: the per-part aggregate joins back by key —
    never a nested-loop, and the build side is the aggregate."""
    plan = _plan(spark, sf_dir, "small_quantity_revenue")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_dup_ngram_scans_prune_to_id_and_text(spark, sf_dir):
    """dup_ngram_fraction reads a 5-column documents table but needs
    only (doc_id, text) — every parquet scan in the plan must be
    column-pruned to those (lang/source/n_chars in a scan means a
    projection leak that quintuples scan bytes at 100 TB)."""
    plan = _plan(spark, sf_dir, "dup_ngram_fraction")
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert scans
    for line in scans:
        for col in ("lang", "source", "n_chars"):
            assert col not in line, f"unpruned column {col}: {line.strip()[:160]}"
    assert "CartesianProduct" not in plan


def test_variant_stats_single_scan_single_exchange(spark, sf_dir):
    """variant_props_stats: one pruned scan (event_type, props), one
    partial->final aggregate exchange, VARIANT parse stays row-local."""
    plan = _plan(spark, sf_dir, "variant_props_stats")
    assert plan.count("Exchange hashpartitioning") == 1
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert len(scans) == 1
    assert "user_id:" not in scans[0] and "value:" not in scans[0]


def test_recursive_spine_is_union_loop(spark, sf_dir):
    """recursive_month_spine must plan the Spark 4 recursive-CTE
    UnionLoop node (calendar-bounded iteration), with the heavy side
    a single aggregate exchange — no sort-merge join, no cartesian."""
    plan = _plan(spark, sf_dir, "recursive_month_spine")
    assert "UnionLoop" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan


def test_lateral_join_decorrelates_to_window_topk(spark, sf_dir):
    """lateral_topn_per_nation: the correlated LATERAL subquery must
    decorrelate to the partitioned WindowGroupLimit top-k shape — a
    per-outer-row re-execution (nested loop / cartesian) would be
    O(nations x customers) at scale."""
    plan = _plan(spark, sf_dir, "lateral_topn_per_nation")
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_count_window_reuses_user_partitioning(spark, sf_dir):
    """count_window_stats: the (user_id, win_no) aggregate must reuse
    the window's user_id hash partitioning (win_no is derived within
    user, so clustering by user_id already satisfies it) — exactly
    ONE exchange, not two."""
    plan = _plan(spark, sf_dir, "count_window_stats")
    assert plan.count("Exchange hashpartitioning") == 1


def test_quality_classifier_is_shuffle_free(spark, sf_dir):
    """quality_classifier_score is model inference as a row-local
    projection: any exchange or join in this plan means the scoring
    expression stopped being embarrassingly parallel."""
    plan = _plan(spark, sf_dir, "quality_classifier_score")
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_heavy_hitter_reads_text_only_with_bounded_exchanges(spark, sf_dir):
    plan = _plan(spark, sf_dir, "heavy_hitter_tokens")
    # both passes prune to the text column — no full-row scan
    assert "ReadSchema: struct<text:string>" in plan
    # candidate distinct + exact count: two key exchanges, never a
    # distinct-token-table sort-merge join or cartesian blowup
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_weighted_priority_sample_is_single_scan_one_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "sample_weighted_priority")
    # row-local priorities: exactly one exchange (the per-source rank)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan


def test_asof_tolerance_same_shape_as_asof(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_asof_tolerance")
    # tolerance composes as a filter on the union+window as-of plan:
    # still one shuffle on the key, no pairwise range join
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # event_type filter reaches the scan
    assert "In(event_type" in plan or "event_type" in plan.split("PushedFilters")[1][:200]


def test_prefix_filter_pairs_no_cartesian_no_corpus_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "neardup_prefix_filter_pairs")
    # candidates form through the prefix equi-join, never a cartesian
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # r10: the canonical prefix rank is row-local (array_sort of the
    # (df, shingle) structs after one dfreq join) — the exploded
    # occurrence stream is never window-sorted per doc
    assert "Window" not in plan
    # r10: the expensive shingle projection must evaluate ABOVE the
    # spread_for_compute exchange, never serially in the single-task
    # scan stage below it (explode_outer + non-nullable n block the
    # inferred-constraint pushdown that used to re-evaluate it there).
    # The exchange only exists when spread_for_compute fires (scan
    # splits < parallelism); on wide-split layouts there is nothing
    # below which pushdown could hide.
    if "RoundRobinPartitioning" in plan:
        below_rr = plan.split("RoundRobinPartitioning", 1)[1]
        assert "zip_with" not in below_rr.split("Scan parquet")[0]


def test_subquery_shapes_decorrelate_to_joins(spark, sf_dir):
    # EXISTS (TPC-H-Q4 shape): a left SEMI join with the non-equi
    # date conjunct as a residual — never a per-row nested probe
    plan = _plan(spark, sf_dir, "sql_exists_late_ship")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan  # window pushed to scan

    # NOT EXISTS (Q22 shape): a left ANTI join; the balance gate is
    # pushed into the customer scan
    plan = _plan(spark, sf_dir, "sql_not_exists_idle_customers")
    assert "LeftAnti" in plan
    assert "GreaterThan(c_acctbal,5000.0)" in plan

    # IN: semi join again, inner-side filter pushed
    plan = _plan(spark, sf_dir, "sql_in_subquery_suppliers")
    assert "LeftSemi" in plan
    assert "GreaterThanOrEqual(l_quantity,49.0)" in plan


def test_correlated_scalar_subquery_is_aggregate_join(spark, sf_dir):
    # Q17 shape: the correlated scalar de-correlates into ONE
    # aggregate of lineitem by partkey joined back on the correlation
    # key — two scans + one equi-join, never row-at-a-time re-execution
    plan = _plan(spark, sf_dir, "sql_correlated_small_quantity")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2  # subquery partial->final + outer


def test_q2_q15_q20_shapes_decorrelate(spark, sf_dir):
    # Q2 shape: correlated MIN -> one aggregate on the correlation key
    # equi-joined back (plus three broadcast dims) — never a per-row
    # probe, never a nested-loop join
    plan = _plan(spark, sf_dir, "sql_correlated_min_cost")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2  # min-by-partkey partial->final

    # Q15 shape: scalar MAX over the aggregated view collapses to a
    # one-row subquery broadcast into the predicate, not a join
    plan = _plan(spark, sf_dir, "sql_view_max_revenue")
    assert "Subquery" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    # Q20 shape: BOTH IN levels become left SEMI joins; the inner
    # grouped-aggregate runs once as partial->final
    plan = _plan(spark, sf_dir, "sql_nested_in_bulk_suppliers")
    assert plan.count("LeftSemi") == 2
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2


def test_q21_q18_q19_shapes(spark, sf_dir):
    # Q21 shape: twin correlated subqueries -> exactly one left SEMI
    # (EXISTS) plus one left ANTI (NOT EXISTS) on the order key —
    # three lineitem passes total, never nested re-probes
    plan = _plan(spark, sf_dir, "sql_sole_late_supplier")
    assert plan.count("LeftSemi") == 1
    assert plan.count("LeftAnti") == 1
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    # Q18 shape: the grouped-HAVING inner aggregate runs once
    # (partial->final) and semi-joins into orders
    plan = _plan(spark, sf_dir, "sql_large_volume_orders")
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2

    # Q19 shape: the cross-side OR must be factored so the lineitem
    # scan receives the pushed quantity-range disjunction instead of
    # filtering post-join
    plan = _plan(spark, sf_dir, "sql_disjunctive_brand_revenue")
    scans = plan.split("PushedFilters")
    lineitem_scan = next(s for s in scans[1:] if "l_quantity" in s[:400])
    assert "Or(" in lineitem_scan[:400]
    part_scan = next(s for s in scans[1:] if "p_brand" in s[:400] or "p_size" in s[:400])
    assert part_scan is not None
    assert "CartesianProduct" not in plan


def test_funnel_single_pass_one_user_shuffle(spark, sf_dir):
    # the whole greedy 3-step chain rides ONE user_id hash exchange
    # (plus the 1-row final count collapse) — the join-chain twin
    # funnel_three_step pays one exchange per step
    plan = _plan(spark, sf_dir, "funnel_single_pass")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "user_id" in plan.split("Exchange hashpartitioning", 1)[1][:40]
    assert plan.count("Exchange SinglePartition") == 1
    assert "CartesianProduct" not in plan


def test_semdedup_pairs_stay_inside_clusters(spark, sf_dir):
    # SemDeDup's whole point: candidate pairs form only through the
    # cluster-id equi-join — never a cross-cluster cartesian; the
    # keeper ranking reuses one vec_id partitioning
    plan = _plan(spark, sf_dir, "semantic_dedup_semdedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_scd2_collapsed_single_user_shuffle(spark, sf_dir):
    # all four window/agg steps of the gaps-and-islands transform ride
    # the one user_id exchange
    plan = _plan(spark, sf_dir, "events_scd2_collapsed")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "user_id" in plan.split("Exchange hashpartitioning", 1)[1][:40]


def test_dsir_bounded_broadcasts_only(spark, sf_dir):
    # the 64-row bucket-weight table broadcasts back onto the token
    # stream (BroadcastHashJoin); no nested-loop/cartesian join and no
    # third corpus pass: the grand totals are window sums OVER the
    # 64-row stats frame (the old separate totals aggregate made
    # Catalyst rebuild the token explode+md5 pipeline a third time)
    plan = _plan(spark, sf_dir, "dsir_importance_weights")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # exactly the 2 unavoidable corpus passes (stats arm + scoring arm)
    assert plan.count("Generate explode") == 2
    # r16: the per-source top-1 is a partial-aggregable min(struct) —
    # the ONLY Window is the bounded 64-row totals fold over stats,
    # never a doc-cardinality sort window (no Sort feeds a Window)
    assert plan.count("Window") == 1
    assert "row_number" not in plan


def test_pit_join_is_equi_on_user(spark, sf_dir):
    # interval containment rides the user_id EQUI join with the
    # bounds as residuals — never a pairwise range (nested-loop) join
    plan = _plan(spark, sf_dir, "pit_join_state_at_purchase")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)


def test_cdc_apply_pushes_rank_limit_map_side(spark, sf_dir):
    # rank-1 extraction must show the partial+final WindowGroupLimit
    # pair (map-side top-1 per key before the shuffle) and ride one
    # user_id exchange — the property that keeps CDC apply linear on
    # a 100 TB changelog
    plan = _plan(spark, sf_dir, "cdc_apply_changelog")
    assert plan.count("WindowGroupLimit") == 2
    assert plan.count("Exchange hashpartitioning") == 1


def test_snowflake_chain_reorders_to_broadcast_star(spark, sf_dir):
    # written region-first, the 7-table chain must pivot around the
    # lineitem fact: six broadcast joins, zero sort-merge, one
    # exchange (the final aggregate), year filter pushed to orders
    plan = _plan(spark, sf_dir, "sql_snowflake_local_supply")
    assert plan.count("BroadcastHashJoin") == 6
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_round6_window_shapes_single_exchange(spark, sf_dir):
    # each of these rides exactly ONE keyed exchange: the two window
    # specs of the rank trio share their mktsegment partition (sort
    # is a sub-order, not a shuffle); the RANGE frame, the
    # gaps-and-islands pattern chain, and the CDC rank likewise
    for name in (
        "window_distribution_ranks",
        "rolling_interval_features",
        "pattern_error_burst_recovery",
    ):
        plan = _plan(spark, sf_dir, name)
        assert plan.count("Exchange hashpartitioning") == 1, name
        assert "CartesianProduct" not in plan, name


def test_winsorize_broadcasts_bounds(spark, sf_dir):
    # the per-segment P5/P95 bounds table is segment-cardinality tiny
    # and must broadcast back onto the stream — re-shuffling the fact
    # for a 5-row join would be the wrong plan at any scale
    plan = _plan(spark, sf_dir, "winsorize_order_values")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_knn_disagreement_subset_is_broadcast_pairwise(spark, sf_dir):
    # the exact pairwise arm runs on the explicit 1-in-5 SUBSET: the
    # non-equi self-pairing is a broadcast nested loop over that
    # bounded subset (intended — it IS the ground-truth arm), never a
    # corpus-sized cartesian; the vote windows share one exchange
    plan = _plan(spark, sf_dir, "knn_label_disagreement")
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_graph_queries_no_cartesian(spark, sf_dir):
    # triangle enumeration and the k-core peel are pure equi-join
    # pipelines: candidates come from the orderkey self-join and the
    # oriented edge joins — the only cross is the 1-row threshold
    # scalar broadcast
    for name in ("graph_triangle_count", "graph_kcore_peeling"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        # the 1-row q75 scalar cross sits BEHIND the edge-list
        # localCheckpoint, so the executed plan shows no nested-loop
        # join at all — and the corpus self-join runs exactly once
        assert plan.count("BroadcastNestedLoopJoin") == 0, name


def test_exact_substr_gram_pipeline_runs_once(spark, sf_dir):
    """VERDICT r16 #4: the r16 claim that exact_substr_dedup's explicit
    ``repartition("k")`` makes the keeper aggregate and the join-back
    share ONE exchange is a RUNTIME property (AQE stage reuse) that a
    static explain cannot show — the committed after-plan still printed
    the gram pipeline twice. Pin it at runtime: after execution, the
    final adaptive plan must materialize the gram-key repartition
    exactly once and read it back through a ReusedExchange, i.e. the
    scan + gram explode + digest pipeline executed once."""
    import re

    df = get_query("exact_substr_dedup").fn(spark, sf_dir)
    df.collect()  # a noop write would execute a CLONED QueryExecution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    # the adaptive toString appends the pre-execution "== Initial
    # Plan ==" section, which legitimately prints the subtree twice —
    # assert on the FINAL section only.
    final = plan.split("== Initial Plan ==")[0]
    # a ReusedExchange line repeats the exchange description, so count
    # only lines that MATERIALIZE the gram-key exchange
    reps = [
        line
        for line in final.splitlines()
        if re.search(r"Exchange hashpartitioning\(k#\d+", line)
        and "ReusedExchange" not in line
    ]
    assert len(reps) == 1, f"gram-key exchange materialized {len(reps)}x"
    assert final.count("ReusedExchange") == 1
    # exactly two parquet scans execute: the gram pipeline's and the
    # final clean-text assembly's — a third means the gram pipeline ran
    # twice after all
    assert final.count("Scan parquet") == 2


def test_dsir_importance_weights_runs_two_corpus_passes(spark, sf_dir):
    """The r16 claim that dsir_importance_weights reads the corpus in
    TWO token passes (bucket stats, then per-doc scores), down from
    three, pinned at runtime like the exact_substr_dedup pin above:
    after execution, the final adaptive plan scans documents twice,
    explodes tokens twice and materializes the bucket-stats exchange
    once. The grand totals are windows over the 64-row stats frame, so
    stats has a single consumer and no exchange repeats: the plan has
    no ReusedExchange, and a third scan would mean the stats pipeline
    is being rebuilt again."""
    import re

    df = get_query("dsir_importance_weights").fn(spark, sf_dir)
    df.collect()  # a noop write would execute a CLONED QueryExecution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 2
    assert final.count("Generate explode(split(text") == 2
    buckets = [
        line
        for line in final.splitlines()
        if re.search(r"Exchange hashpartitioning\(bucket#\d+", line)
        and "ReusedExchange" not in line
    ]
    assert len(buckets) == 1, f"bucket-stats exchange materialized {len(buckets)}x"
    assert "ReusedExchange" not in final


def test_branching_dag_reuses_one_exchange(spark, sf_dir):
    # fork-shaped consumer DAG: the orderkey shuffle materializes once
    # and the second branch reads it back as ReusedExchange. Under AQE
    # the reuse node only appears in the FINAL adaptive plan, so
    # execute before reading the plan string.
    df = get_query("agg_branch_reused_exchange").fn(spark, sf_dir)
    df.collect()  # a noop write would execute a CLONED QueryExecution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan
    assert "CartesianProduct" not in plan


def test_skyline_no_cartesian_no_global_window(spark, sf_dir):
    plan = _plan(spark, sf_dir, "skyline_pareto_parts")
    # dominance is histogram + band prefix, never an all-pairs join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan or "Inner, (band" in plan
    # the only window runs partitioned by band, never over a single
    # unpartitioned partition of the full input
    import re

    specs = re.findall(r"windowspecdefinition\((\w+)", plan)
    assert specs and all(s.startswith("band") for s in specs), specs


def test_proration_windows_share_one_order_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "proration_largest_remainder")
    # all three window passes partition by l_orderkey: exactly one
    # hash exchange on the key feeds them (plus the join's own)
    assert plan.count("Exchange hashpartitioning(l_orderkey") <= 2
    assert "CartesianProduct" not in plan


def test_lindley_single_user_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "inventory_lindley_balance")
    # running sum, running min, lag, and the final agg all key on
    # user_id: one exchange for the windows + at most one for the agg
    assert plan.count("Exchange hashpartitioning(user_id") <= 2
    assert "CartesianProduct" not in plan


def test_market_basket_no_self_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "market_basket_pair_lift")
    # pairs come from row-local array algebra over per-order brand
    # sets, not a sort-merge self-join of the (order, brand) relation;
    # the r7 rewrite dropped 10 exchanges + 1 SMJ to 7 + 0, and the
    # r16 unified-marker-stream form runs the fact table ONCE: the
    # final plan assembles tiny slices of the checkpointed unified
    # counts frame (visible as Scan ExistingRDD), so at most the
    # assembly exchanges remain
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "Scan ExistingRDD" in plan
    # marginals and the order count stay broadcast-side
    assert plan.count("BroadcastHashJoin") >= 2


def test_q6_scan_bound_pushdown(spark, sf_dir):
    # Q6 shape: single scan, shipdate + quantity predicates pushed to
    # parquet, one partial->final aggregate — only 1-row partials
    # cross the wire
    plan = _plan(spark, sf_dir, "sql_forecast_revenue")
    assert "GreaterThanOrEqual(l_shipdate" in plan
    # the full PushedFilters list is elided in toString; the pushed
    # quantity bound still shows via IsNotNull + the scan's DataFilters
    assert "IsNotNull(l_quantity)" in plan
    assert "< 24.0)" in plan
    assert "Exchange hashpartitioning" not in plan  # global agg -> single partition exchange only
    assert plan.count("HashAggregate") == 2


def test_q7_q8_q9_dims_broadcast_fact_chain_shuffles(spark, sf_dir):
    # Q7 shape: both nation arms broadcast (pre-filtered); no
    # cartesian from the disjunctive cross-pair predicate
    plan = _plan(spark, sf_dir, "sql_volume_shipping")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    # Q8 shape: 7-table join — part/supplier/nation/region broadcast,
    # the CASE-split share and the denominator share ONE aggregate
    plan = _plan(spark, sf_dir, "sql_market_share")
    assert plan.count("BroadcastHashJoin") >= 5
    assert "CartesianProduct" not in plan
    # numerator+denominator in the same partial->final pair, not two plans
    assert plan.count("HashAggregate") == 2

    # Q9 shape: LIKE '%red%' evaluated on the part DIM, then broadcast
    # — the contains-filter must not sit above the fact join
    plan = _plan(spark, sf_dir, "sql_product_profit")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "Contains(p_name,red)" in plan.replace(" ", "")


def test_q11_q13_q16_shapes(spark, sf_dir):
    # Q11 shape: scalar total = one-row subquery broadcast into the
    # HAVING predicate; grouped branch is one partial->final on
    # l_partkey
    plan = _plan(spark, sf_dir, "sql_important_stock")
    assert "Subquery" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2

    # Q13 shape: LEFT OUTER with the priority filter INSIDE the join
    # (pushed to the orders scan, customers never dropped), then two
    # stacked aggregates
    plan = _plan(spark, sf_dir, "sql_customer_distribution")
    assert "LeftOuter" in plan
    assert "Not(EqualTo(o_orderpriority,1-URGENT))" in plan.replace(" ", "")
    assert plan.count("HashAggregate") >= 3  # per-cust partial/final + dist

    # Q16 shape: non-nullable probe key -> plain left ANTI (never the
    # null-aware BNLJ variant); distinct count is the two-phase expand
    plan = _plan(spark, sf_dir, "sql_supplier_relationship")
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_semdedup_scaled_pairs_stay_inside_fine_clusters(spark, sf_dir):
    # The scale-regime variant, r16 row-local form: ONE hash exchange
    # on label feeds the refinement window; the capacity-capped fine
    # clusters (≤32 rows) are collected into single rows and all pair
    # scoring happens inside the cluster array — zero joins of any
    # kind, so cross-cluster pairs are impossible by construction.
    plan = _plan(spark, sf_dir, "semantic_dedup_scaled")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    # grouping still keys on BOTH the coarse and the fine cluster id
    joined = plan.replace(" ", "")
    assert "sub_cluster" in joined and "label" in joined


def test_exact_substr_dedup_digest_shuffles_and_pruned_scan(spark, sf_dir):
    # ExactSubstr span removal: candidates pair only through the gram
    # DIGEST equi-join (never a cartesian / nested-loop); the keeper
    # is a partial-aggregatable min — the plan must show a partial
    # aggregate BEFORE the gram exchange so a viral boilerplate gram
    # collapses map-side; every documents scan reads only
    # (doc_id, text).
    plan = _plan(spark, sf_dir, "exact_substr_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_min" in plan or "partial min" in plan.lower()
    import re

    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        assert m.group(1) == "doc_id:bigint,text:string", m.group(1)
    # Collision-policy pin (r12, VERDICT r11 #1): the removal pass must
    # key grams on the TWO-SEED 128-bit struct — h1 = xxhash64(g) and
    # h2 = xxhash64(1, g) with the salt literal FIRST (Spark chains
    # field hashes, so a trailing salt would make h2 a pure function
    # of h1 and add zero collision margin). A 64-bit single-hash key
    # silently deletes non-duplicate spans at the 1e11+-distinct-gram
    # design point; this pin fails if the default ever regresses.
    # Shape note (ADVICE r12): the gram argument is a bare field ref
    # today, but a legitimate plan change (projection collapse inlining
    # array_join(...)) would nest parentheses inside xxhash64(...), so
    # the inner groups are lazy `.*?` anchored on the `, h2,` / `))`
    # delimiters rather than `[^)]*`, and each property is asserted
    # separately so a failure names what actually regressed.
    assert plan.count("xxhash64") >= 2, (
        "two-seed gram key regressed: fewer than two xxhash64 calls in "
        "the plan — the 128-bit struct(h1, h2) key is gone"
    )
    assert re.search(r"xxhash64\(1, .*?\)", plan), (
        "seeded half missing or salt not FIRST: expected xxhash64(1, "
        "<gram>) — a trailing salt makes h2 a pure function of h1 and "
        "adds zero collision margin"
    )
    gram_keys = re.findall(
        r"struct\(h1, xxhash64\((.*?)\), h2, xxhash64\(1, (.*?)\)\)",
        plan,
    )
    assert gram_keys, (
        "two-seed 128-bit gram key struct not found in plan (both "
        "xxhash64 halves are present per the asserts above, so the "
        "struct packaging or field order changed)"
    )
