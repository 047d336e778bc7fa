"""Semantic checks for the sketch/iterative GUARANTEE-shape queries.

These queries fold their engine-specific estimates (HLL, GK, xxhash
LSH, PageRank floats, Space-Saving) into verdict columns that a DuckDB
oracle asserts equal 1 — so the driver's gate exact-checks them. The
tests here (a) re-derive the guarantees independently so a query that
trivialized its own verdict would still fail, and (b) pin the
FIXTURE-SPECIFIC quality properties (hub structure, clustering
quality, estimate magnitudes) that a universally-true verdict cannot
carry."""

from __future__ import annotations

from pyspark.sql import functions as F

from gostream_spark.io import load_table
from gostream_spark.registry import get_query


def _assert_verdicts(rows, *cols):
    assert rows, "guarantee query returned no rows"
    for r in rows:
        for c in cols:
            assert getattr(r, c) == 1, (c, r)


def test_approx_count_distinct_within_tolerance(spark, sf_dir):
    """A4: the query's approx_ok verdict asserts HLL++ at rsd=0.01
    landed within 5% of exact; the exact counts must match an
    independent computation (so the verdict isn't judging a wrong
    baseline)."""
    rows = get_query("agg_approx_count_distinct").fn(spark, sf_dir).collect()
    _assert_verdicts(rows, "approx_ok")
    exact = {
        r.l_returnflag: r.exact_parts
        for r in load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("exact_parts"))
        .collect()
    }
    assert {r.l_returnflag: r.exact_parts for r in rows} == exact


def test_minhash_buckets_account_for_every_doc(spark, sf_dir):
    """L2 scale path: per band — mass conservation over the bucket
    histogram, equal shingle sets co-bucketed, bucket count bounded by
    signature-set count; doc count matches the >=3-token corpus."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.filter(F.size(F.split("text", " ")) >= 3).count()
    rows = get_query("minhash_lsh_buckets").fn(spark, sf_dir).collect()
    assert len(rows) == 4  # 4 bands
    _assert_verdicts(rows, "mass_ok", "dup_consistent", "buckets_le_sigsets")
    for r in rows:
        assert r.n_docs == n_docs
        assert 1 <= r.n_sigsets <= n_docs


def test_simhash_style_lsh_covers_corpus(spark, sf_dir):
    """L3/L4 scale path: the hyperplane bucketing must cover every
    vector exactly once, inside the 8-bit bucket range, with identical
    vectors co-bucketed."""
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    row = get_query("similarity_lsh_buckets").fn(spark, sf_dir).collect()[0]
    assert row.n_vectors == n_vecs
    _assert_verdicts(
        [row],
        "mass_ok",
        "range_ok",
        "identical_same_bucket",
        "null_bucket_iff_malformed",
    )


def test_kmeans_census_accounts_for_corpus(spark, sf_dir):
    """Iterative k-means: the query's partition/cluster-count verdicts
    hold, and (fixture-specific, so asserted HERE not in the verdict)
    the refined clustering's mean within-cluster similarity beats the
    random-pair baseline (~0)."""
    row = get_query("kmeans_refined_clusters").fn(spark, sf_dir).collect()[0]
    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    assert row.n_vectors == n_vecs
    _assert_verdicts([row], "partition_ok", "clusters_ok")

    # Quality: rebuild the refined assignment with the module's own
    # helpers and check the census the old rows-only output carried.
    from gostream_spark.functions import centroids, cosine_similarity
    from gostream_spark.queries.kmeans_demo import _assign

    seeds = load_table(spark, sf_dir, "embeddings")
    emb = seeds.select("vec_id", "embedding")
    cents = centroids(seeds.select(F.col("label").alias("c_id"), "embedding"), "c_id")
    for _ in range(2):
        cents = centroids(_assign(emb, cents), "c_id")
    final = _assign(emb, cents)
    cos = F.round(cosine_similarity(F.col("embedding"), F.col("cv")), 6)
    census = (
        final.join(F.broadcast(cents), "c_id")
        .select("c_id", cos.alias("cos"))
        .groupBy("c_id")
        .agg(F.count(F.lit(1)).alias("n_members"), F.avg("cos").alias("mean_cos"))
        .collect()
    )
    assert sum(r.n_members for r in census) == n_vecs
    assert all(r.n_members >= 1 for r in census)
    assert sum(r.mean_cos * r.n_members for r in census) / n_vecs > 0.05


def test_lsh_buckets_group_similar_vectors(spark, sf_dir):
    """Sanity: hyperplane-bucket co-membership correlates with cosine
    similarity — mean within-bucket similarity must exceed the global
    mean (random vectors: ~0)."""
    from gostream_spark.functions import cosine_similarity

    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("eb"))
    pairs = a.join(b, F.col("ia") < F.col("ib")).select(
        cosine_similarity(F.col("ea"), F.col("eb")).alias("cos")
    )
    global_mean = pairs.agg(F.avg("cos")).collect()[0][0]
    # bucket-mates under one hyperplane: sign of first-dim-ish projection
    proj = F.aggregate(
        F.col("embedding"), F.lit(0.0), lambda acc, v: acc + v.cast("double")
    )
    bucketed = emb.select("vec_id", "embedding", (proj > 0).alias("side"))
    ba = bucketed.select(
        F.col("vec_id").alias("ia"), F.col("embedding").alias("ea"), F.col("side").alias("sa")
    )
    bb = bucketed.select(
        F.col("vec_id").alias("ib"), F.col("embedding").alias("eb"), F.col("side").alias("sb")
    )
    mates = ba.join(bb, (F.col("ia") < F.col("ib")) & (F.col("sa") == F.col("sb"))).select(
        cosine_similarity(F.col("ea"), F.col("eb")).alias("cos")
    )
    mates_mean = mates.agg(F.avg("cos")).collect()[0][0]
    assert mates_mean > global_mean


def test_approx_percentile_within_tolerance(spark, sf_dir):
    """A8 ext: the query's per-quantile verdicts assert GK's rank-error
    guarantee in-plan; here we re-derive the SAME rank check from the
    raw sketch output driver-side, so a query that trivialized its
    verdict computation would diverge from this independent one."""
    ev = load_table(spark, sf_dir, "events")
    rows = get_query("agg_approx_percentile").fn(spark, sf_dir).collect()
    _assert_verdicts(rows, "p50_ok", "p95_ok", "p99_ok")
    ests = {
        r.event_type: r.pcts
        for r in ev.groupBy("event_type")
        .agg(F.percentile_approx("value", [0.5, 0.95, 0.99], 10000).alias("pcts"))
        .collect()
    }
    assert set(ests) == {r.event_type for r in rows}
    for etype, pcts in ests.items():
        vals = sorted(
            r.value
            for r in ev.filter(F.col("event_type") == etype).select("value").collect()
            if r.value is not None
        )
        n = len(vals)
        for q, est in zip((0.5, 0.95, 0.99), pcts):
            below = sum(v < est for v in vals) / n
            at_or_below = sum(v <= est for v in vals) / n
            eps = 1.0 / 10000 + 1.0 / n
            assert below - eps <= q <= at_or_below + eps, (etype, q, est, below, at_or_below)


def test_winnowing_matches_python_reference(spark, sf_dir):
    """Independent oracle for winnowing_fingerprint beyond DuckDB: a
    pure-Python winnower over the same docs must agree on count and
    digest, and the selected positions must satisfy the scheme's
    coverage guarantee (a fingerprint in every w-window, so
    consecutive picks are <= w apart)."""
    import hashlib

    from gostream_spark.queries.dedup_advanced import _WINNOW_K, _WINNOW_W

    got = {
        r.doc_id: r
        for r in get_query("winnowing_fingerprint").fn(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    for row in docs[:40]:
        toks = row.text.split(" ")
        m = len(toks) - (_WINNOW_K - 1)
        hs = [
            hashlib.md5(" ".join(toks[p : p + _WINNOW_K]).encode()).hexdigest()[:8]
            for p in range(m)
        ]
        sel = set()
        for i in range(_WINNOW_W - 1, m):  # window [i-w+1, i], 0-based
            win = hs[i - _WINNOW_W + 1 : i + 1]
            mn = min(win)
            # rightmost occurrence of the min
            sel.add(i - list(reversed(win)).index(mn))
        fps = sorted(sel)
        digest = hashlib.md5("|".join(hs[p] for p in fps).encode()).hexdigest()
        r = got[row.doc_id]
        assert r.n_shingles == m
        assert r.n_fps == len(fps), (row.doc_id, r.n_fps, len(fps))
        assert r.fp_digest == digest, row.doc_id
        gaps = [b - a for a, b in zip(fps, fps[1:])]
        assert all(g <= _WINNOW_W for g in gaps)
        if m >= _WINNOW_W:
            assert fps[0] <= _WINNOW_W - 1 and fps[-1] >= m - _WINNOW_W


def test_zorder_key_properties(spark, sf_dir):
    """Morton-key invariants: interleaving is a bijection on the
    (x, y) grid (key decodes back to its dims), and the key is
    monotone in each dimension with the other held fixed."""
    rows = get_query("zorder_cluster_key").fn(spark, sf_dir).collect()

    def decode(z):
        x = y = 0
        for i in range(8):
            x |= ((z >> (2 * i)) & 1) << i
            y |= ((z >> (2 * i + 1)) & 1) << i
        return x, y

    by_x = {}
    for r in rows:
        assert decode(r.zkey) == (r.x, r.y % 256), r
        by_x.setdefault(r.y, {})[r.x] = r.zkey
    for y, xs in list(by_x.items())[:5]:
        ks = [xs[x] for x in sorted(xs)]
        assert ks == sorted(ks)  # monotone in x for fixed y


def test_ewma_stays_within_window_bounds(spark, sf_dir):
    """EWMA is a convex combination of the frame's values — it must
    lie within [min, max] of the trailing window for every row."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 20 == 0)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-7, Window.currentRow)
    )
    bounds = {
        (r.user_id, r.event_id): (r.lo, r.hi)
        for r in ev.select(
            "user_id",
            "event_id",
            F.min("value").over(w).alias("lo"),
            F.max("value").over(w).alias("hi"),
        ).collect()
    }
    for r in get_query("ewma_smoothing").fn(spark, sf_dir).collect():
        lo, hi = bounds[(r.user_id, r.event_id)]
        assert lo - 1e-6 <= r.ewma <= hi + 1e-6, (r, lo, hi)


def test_hll_mergeable_rollup_estimates_and_union_bound(spark, sf_dir):
    """A4 sketch rollup: the query's approx_ok verdicts assert the 5%
    estimate-vs-exact tolerance per type AND for the merged union; the
    exact counts must match an independent computation, and the raw
    union estimate (recomputed here — the verdict folds it away) can
    never exceed the sum of the parts' estimates."""
    rows = get_query("hll_mergeable_rollup").fn(spark, sf_dir).collect()
    _assert_verdicts(rows, "approx_ok")
    per = {r.event_type: r for r in rows if r.event_type != "(all)"}
    assert per, "expected per-type sketch rows"
    ev = load_table(spark, sf_dir, "events")
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert {k: r.exact_users for k, r in per.items()} == exact
    all_row = next(r for r in rows if r.event_type == "(all)")
    exact_all = ev.agg(F.countDistinct("user_id").alias("n")).collect()[0].n
    assert all_row.exact_users == exact_all
    # Raw sketch arithmetic: merged estimate <= sum of part estimates.
    sketches = ev.groupBy("event_type").agg(F.hll_sketch_agg("user_id").alias("sk"))
    part_ests = sketches.select(
        F.hll_sketch_estimate("sk").alias("est")
    ).collect()
    union_est = (
        sketches.agg(F.hll_union_agg("sk").alias("sk"))
        .select(F.hll_sketch_estimate("sk").alias("est"))
        .collect()[0]
        .est
    )
    assert union_est <= sum(r.est for r in part_ests)


def test_pagerank_conserves_mass_and_ranks_hubs(spark, sf_dir):
    """L2 PageRank centrality: the query's verdicts assert mass
    conservation and the teleport floor; here we recompute the RAW
    ranks (the verdict folds them away) to check the fixture's hub
    structure — some node with above-minimum degree outranks every
    leaf — and that the node/edge counts match the query's."""
    from gostream_spark.operators.pagerank import pagerank
    from gostream_spark.queries.dedup_advanced import _bottomk_band_star_edges

    row = get_query("neardup_pagerank_centrality").fn(spark, sf_dir).collect()[0]
    assert row.n_nodes > 0, "candidate graph should be non-empty at sf0.01"
    _assert_verdicts([row], "mass_ok", "floor_ok")

    edges = _bottomk_band_star_edges(spark, sf_dir)
    nodes = (
        edges.select(F.col("src").alias("doc_id"))
        .union(edges.select(F.col("dst").alias("doc_id")))
        .distinct()
    )
    assert edges.count() == row.n_edges
    assert nodes.count() == row.n_nodes
    deg = (
        edges.select(F.col("src").alias("doc_id"))
        .union(edges.select(F.col("dst").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    ranks = (
        pagerank(nodes, edges, damping=0.85, n_iter=10)
        .withColumnRenamed("id", "doc_id")
        .join(deg, "doc_id")
        .collect()
    )
    # Postcondition pin: output ids == edge endpoints (the inner join
    # with deg keeps only endpoint ids, so equality here means nothing
    # was dropped and nothing extra was emitted).
    assert len(ranks) == row.n_nodes
    max_deg = max(r.degree for r in ranks)
    if max_deg > 1:
        best = max(ranks, key=lambda r: r.rank)
        assert best.degree > 1, "highest rank should sit on a hub, not a leaf"


def test_space_saving_contains_all_true_heavy_hitters(spark, sf_dir):
    """streaming_heavy_hitters_stateful: the query's verdicts assert
    the Metwally guarantees (no false negatives at phi = 1/200,
    overestimate <= N/400, stream total == batch total); the exact
    per-source totals and heavy counts must match an independent
    computation."""
    rows = get_query("streaming_heavy_hitters_stateful").fn(spark, sf_dir).collect()
    _assert_verdicts(rows, "covered_ok", "overest_ok", "stream_total_ok")

    toks = (
        load_table(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("token"))
    )
    exact = {
        (r.source, r.token): r.cnt
        for r in toks.groupBy("source", "token").agg(F.count("*").alias("cnt")).collect()
    }
    totals = {
        r.source: r.n for r in toks.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    n_heavy = {src: 0 for src in totals}
    for (src, tok), cnt in exact.items():
        if cnt >= -(-totals[src] // 200):
            n_heavy[src] += 1
    assert {r.source: r.n_tokens for r in rows} == totals
    assert {r.source: r.n_heavy for r in rows} == n_heavy
