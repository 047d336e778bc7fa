#!/usr/bin/env python
"""The one reader of a decade fixture's ``manifest.json``: the query
kwargs and parameterized DuckDB oracles that make six registered
queries meaningful (and checkable) on fixtures staged by
tools/restage_decade.py. `tools/sweep.py` runs and exact-checks them;
`tools/time_queries.py` times the same calls.

Literal-parameterized queries (VERDICT r10 #2): token-literal and
frequency-threshold queries degenerate on the salted decade corpus —
`bm25_topk` scores salted terms against unsalted query literals (0
rows), `heavy_hitter_tokens`' fixed 0.5% threshold spreads each token
over R disjoint variants, `tfidf_top_terms`' stopword filter matches
no salted token. The manifest carries the scale-matched values
(replica-0-salted retrieval terms, the all-replica salted stopword
set, phi_inv scaled by R), fed to BOTH arms through the queries'
default-preserving knobs (`terms=`, `stopwords=`, `phi_inv=`).

Quadratic ground-truth evaluators (VERDICT r15 #2):
`knn_label_disagreement` and `ann_recall_at_k` (probe panel x corpus
pair products) and `graph_triangle_count` (corpus co-occurrence
self-join in the oracle). At decade fixtures (sf3: 30x sf0.1) the
Spark arms complete, but the ONE-BOX DuckDB oracle blows its 64 GB
memory / 40 GB spill caps (SCALE.md r15). Scoping uses the restager's
replica structure: fixtures are R disjoint sub-databases with every
key column offset by ``k * ID_OFFSET`` and FK edges INSIDE a replica.

- knn/ann: bound the PROBE side to replica 0 in BOTH arms
  (query knob `probe_below` + parameterized oracle). Ground truth is
  still a FULL-corpus search per probe — panel x corpus is linear in
  corpus — and the exact-compare is a true engine-vs-oracle check on
  the decade input.
- triangle: the engine arm stays UNSCOPED; only the oracle is
  restricted to replica 0. Replication makes that exact by
  construction: non-key columns (p_brand) are verbatim and order keys
  never cross replicas, so corpus pair support is exactly
  ``R * s_replica0`` for every pair, the discrete quantile threshold
  scales by the same R, and the thresholded edge set — hence the
  triangle counts — equals replica 0's. The invariants this rests on
  (verbatim non-key columns, in-replica FK edges, disjoint key
  spaces) are pinned by tests/test_restage_decade.py. Both manifest
  shapes are exact: tpch_replicated fixtures by the R-fold support
  argument, and --no-tpch fixtures trivially (lineitem is the
  symlinked sf0.1 source, every order key already < ID_OFFSET, so
  the bound is a no-op).

Everything here activates ONLY for fixtures with a manifest.json; the
driver-gate sweep at /root/testdata is byte-for-byte unaffected.
"""

from __future__ import annotations

import json
import os

from tools.restage_decade import ID_OFFSET


def scoped_overrides(sf_dir: str) -> dict[str, tuple[dict, str]]:
    """name -> (query kwargs, parameterized oracle SQL) when ``sf_dir``
    is a decade fixture staged by restage_decade.py. Empty dict
    otherwise (plain fixtures run the registered defaults)."""
    path = os.path.join(sf_dir, "manifest.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        manifest = json.load(f)
    from gostream_spark.queries.heavy_hitters import hh_oracle
    from gostream_spark.queries.llm_similarity import mislabel_oracle
    from gostream_spark.queries.llm_text import tfidf_oracle
    from gostream_spark.queries.skew_and_ivf import recall_oracle
    from gostream_spark.queries.statistics_ops import triangle_oracle
    from gostream_spark.queries.training_assembly import bm25_oracle

    terms = tuple(manifest["bm25_terms"])
    stop = tuple(manifest["stopwords"])
    phi = int(manifest["phi_inv"])
    return {
        "bm25_topk": ({"terms": terms}, bm25_oracle(terms)),
        "tfidf_top_terms": ({"stopwords": stop}, tfidf_oracle(stop)),
        "heavy_hitter_tokens": ({"phi_inv": phi}, hh_oracle(phi)),
        "knn_label_disagreement": (
            {"probe_below": ID_OFFSET},
            mislabel_oracle(ID_OFFSET),
        ),
        "ann_recall_at_k": (
            {"probe_below": ID_OFFSET},
            recall_oracle(ID_OFFSET),
        ),
        "graph_triangle_count": ({}, triangle_oracle(ID_OFFSET)),
    }
