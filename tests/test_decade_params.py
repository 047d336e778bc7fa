"""Pins for the decade-fixture parameterization knobs (round 11).

The salted decade fixture degenerates token-literal and
frequency-threshold queries, so `bm25_topk`, `tfidf_top_terms`, and
`heavy_hitter_tokens` grew default-preserving knobs plus oracle
BUILDERS that tools/decade_scope.py parameterizes from the fixture
manifest. These tests pin the contract-freeze half of that change:
the builders at their defaults must reproduce the REGISTERED oracle
text exactly, and calling the query functions with explicit default
knob values must equal the registered two-arg call row-for-row. The
parameterized-at-scale half is checked live by `tools/sweep.py` on
the decade fixture, which exact-compares each scoped call against its
parameterized oracle (`--root .tmp/decadedata --sf 1`).
"""

from __future__ import annotations

from gostream_spark.registry import get_query


def test_oracle_builders_reproduce_registered_oracles():
    from gostream_spark.queries.heavy_hitters import _PHI_INV, hh_oracle
    from gostream_spark.queries.llm_text import STOPWORDS, tfidf_oracle
    from gostream_spark.queries.training_assembly import (
        _BM25_TERMS,
        bm25_oracle,
    )

    assert hh_oracle(_PHI_INV) == get_query("heavy_hitter_tokens").oracle
    assert tfidf_oracle(STOPWORDS) == get_query("tfidf_top_terms").oracle
    assert bm25_oracle(_BM25_TERMS) == get_query("bm25_topk").oracle


def test_parameterized_oracles_differ_from_defaults():
    """A salted-parameter oracle must actually change the SQL (guards
    against a builder that ignores its argument)."""
    from gostream_spark.queries.heavy_hitters import hh_oracle
    from gostream_spark.queries.llm_text import tfidf_oracle
    from gostream_spark.queries.training_assembly import bm25_oracle

    assert "'data_0'" in bm25_oracle(("data_0",))
    assert "'the_3'" in tfidf_oracle(("the_3",))
    assert "/ 2000.0" in hh_oracle(2000)


def test_default_knobs_match_two_arg_call(spark, sf_dir):
    from gostream_spark.queries.heavy_hitters import (
        _PHI_INV,
        heavy_hitter_tokens,
    )
    from gostream_spark.queries.llm_text import STOPWORDS, tfidf_top_terms
    from gostream_spark.queries.training_assembly import (
        _BM25_TERMS,
        bm25_topk,
    )

    for fn, kwargs in (
        (bm25_topk, {"terms": _BM25_TERMS}),
        (tfidf_top_terms, {"stopwords": STOPWORDS}),
        (heavy_hitter_tokens, {"phi_inv": _PHI_INV}),
    ):
        plain = sorted(map(tuple, fn(spark, sf_dir).collect()))
        knobbed = sorted(map(tuple, fn(spark, sf_dir, **kwargs).collect()))
        assert plain == knobbed


def test_salted_phi_changes_mg_capacity():
    """The Misra-Gries pass must size its counter dict from the knob
    (2/phi), or pass-1 candidates lose the no-false-negative
    guarantee at the scaled threshold."""
    import pandas as pd

    from gostream_spark.queries.heavy_hitters import _mg_candidates_fn

    # capacity 4: a 6-distinct-token stream must evict; capacity 100
    # keeps everything.
    batch = pd.DataFrame({"text": ["a b c d e f a a"]})
    small = list(_mg_candidates_fn(4)(iter([batch])))[0]
    big = list(_mg_candidates_fn(100)(iter([batch])))[0]
    assert len(small) <= 4
    assert set(big["token"]) == {"a", "b", "c", "d", "e", "f"}


def test_quadratic_evaluator_builders_reproduce_registered_oracles():
    """r16 (VERDICT r15 #2): the three quadratic ground-truth
    evaluators grew probe/replica scoping knobs for decade sweeps —
    contract freeze requires their builders at defaults to BE the
    registered oracles."""
    from gostream_spark.queries.llm_similarity import mislabel_oracle
    from gostream_spark.queries.skew_and_ivf import recall_oracle
    from gostream_spark.queries.statistics_ops import triangle_oracle

    assert mislabel_oracle() == get_query("knn_label_disagreement").oracle
    assert recall_oracle() == get_query("ann_recall_at_k").oracle
    assert triangle_oracle() == get_query("graph_triangle_count").oracle


def test_quadratic_evaluator_scoped_oracles_differ_from_defaults():
    from gostream_spark.queries.llm_similarity import mislabel_oracle
    from gostream_spark.queries.skew_and_ivf import recall_oracle
    from gostream_spark.queries.statistics_ops import triangle_oracle

    assert "vec_id < 10000000" in mislabel_oracle(10_000_000)
    assert "vec_id < 10000000" in recall_oracle(10_000_000)
    assert "l_orderkey < 10000000" in triangle_oracle(10_000_000)


def test_probe_below_default_matches_two_arg_call(spark, sf_dir):
    """An explicit probe_below ABOVE every fixture id must equal the
    registered two-arg call row-for-row (default-preserving knob),
    and a bound of 0 must empty the probe side."""
    from gostream_spark.queries.llm_similarity import knn_label_disagreement
    from gostream_spark.queries.skew_and_ivf import ann_recall_at_k

    for fn in (knn_label_disagreement, ann_recall_at_k):
        plain = sorted(map(tuple, fn(spark, sf_dir).collect()))
        knobbed = sorted(
            map(tuple, fn(spark, sf_dir, probe_below=10_000_000).collect())
        )
        assert plain == knobbed, fn.__name__
        assert fn(spark, sf_dir, probe_below=0).count() == 0, fn.__name__


def _write_manifest(path, terms=("data_0", "merge_0", "stream_0")):
    """A manifest shaped like tools/restage_decade.py's (R = 10)."""
    import json

    from gostream_spark.queries.llm_text import STOPWORDS

    stop = [f"{w}_{k}" for w in STOPWORDS for k in range(10)]
    (path / "manifest.json").write_text(
        json.dumps(
            {
                "replicas": 10,
                "salted": True,
                "tpch_replicated": True,
                "bm25_terms": list(terms),
                "stopwords": stop,
                "phi_inv": 2000,
            }
        )
    )
    return stop


def test_decade_scope_only_fires_on_manifested_fixtures(tmp_path):
    """scoped_overrides is keyed on the restager's manifest.json: the
    driver-gate fixtures must sweep byte-for-byte unscoped, and a
    decade fixture gets all six (kwargs, oracle) pairs from it."""
    from gostream_spark.queries.heavy_hitters import hh_oracle
    from gostream_spark.queries.llm_text import tfidf_oracle
    from gostream_spark.queries.training_assembly import bm25_oracle
    from tools.decade_scope import scoped_overrides

    assert scoped_overrides("/root/testdata/sf0.01") == {}
    assert scoped_overrides(str(tmp_path)) == {}
    stop = _write_manifest(tmp_path)
    ov = scoped_overrides(str(tmp_path))
    assert set(ov) == {
        "bm25_topk",
        "tfidf_top_terms",
        "heavy_hitter_tokens",
        "knn_label_disagreement",
        "ann_recall_at_k",
        "graph_triangle_count",
    }
    # the literal trio: both arms take the manifest's values.
    terms = ("data_0", "merge_0", "stream_0")
    assert ov["bm25_topk"] == ({"terms": terms}, bm25_oracle(terms))
    assert ov["tfidf_top_terms"] == (
        {"stopwords": tuple(stop)},
        tfidf_oracle(tuple(stop)),
    )
    assert ov["heavy_hitter_tokens"] == ({"phi_inv": 2000}, hh_oracle(2000))
    # knn/ann scope BOTH arms; triangle scopes only the oracle.
    assert ov["knn_label_disagreement"][0] == {"probe_below": 10_000_000}
    assert ov["ann_recall_at_k"][0] == {"probe_below": 10_000_000}
    assert ov["graph_triangle_count"][0] == {}
    assert "l_orderkey < 10000000" in ov["graph_triangle_count"][1]


def test_time_queries_rows_ratios_and_decade_kwargs(spark, sf_dir, tmp_path):
    """tools/time_queries.py in-process: one row per query with a time,
    rows and scope flag per dir and the ratio of adjacent dirs; on a
    manifest dir the query runs with the manifest's kwargs (here a
    retrieval term no document holds, so bm25 returns no rows)."""
    import os

    from gostream_spark.queries.training_assembly import bm25_topk
    from tools.time_queries import time_queries, to_markdown

    big = "/root/testdata/sf0.01"
    for f in os.listdir(big):
        os.symlink(os.path.join(big, f), tmp_path / f)
    _write_manifest(tmp_path, terms=("no_such_term_0",))
    dirs = [sf_dir, str(tmp_path)]
    (r,) = time_queries(spark, ["bm25_topk"], dirs, trials=1)
    assert r["name"] == "bm25_topk"
    assert len(r["seconds"]) == len(r["rows"]) == 2
    assert all(s > 0 for s in r["seconds"])
    assert r["ratios"] == [r["seconds"][1] / r["seconds"][0]]
    assert r["scoped"] == [False, True]
    assert r["rows"][0] == bm25_topk(spark, sf_dir).count() > 0
    assert r["rows"][1] == 0 < bm25_topk(spark, big).count()
    table = to_markdown([r], dirs).splitlines()
    assert len(table) == 3 and table[2].startswith("| `bm25_topk`* |")
