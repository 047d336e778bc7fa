"""Focused pins for the r17 connected-components changes (VERDICT r16
#5 + ADVICE r16): the BSP convergence check rides the checkpoint job
as an ``observe`` metric (no separate count() job per cycle), and an
odd ``max_iter`` budget rounds UP (at least max_iter propagations)
instead of down."""

from __future__ import annotations

import pyspark.sql.dataframe as _df_mod


def test_convergence_check_never_calls_count(spark, monkeypatch):
    """The per-cycle driver convergence check must NOT be a separate
    count() action — it rides the localCheckpoint materialization via
    observe (one fewer Spark job per cycle; at real scale that is a
    full label-frame pass plus a driver round-trip per 2 rounds)."""
    from gostream_spark.operators.components import connected_components

    calls = []
    orig = _df_mod.DataFrame.count

    def counting(self):
        calls.append(1)
        return orig(self)

    monkeypatch.setattr(_df_mod.DataFrame, "count", counting)
    nodes = spark.createDataFrame([(i,) for i in range(1, 6)], "id BIGINT")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "src BIGINT, dst BIGINT"
    )
    got = {
        r.id: r.cluster for r in connected_components(nodes, edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}
    assert not calls, "convergence check ran a separate count() job"


def test_odd_max_iter_budget_rounds_up(spark):
    """ADVICE r16: the old floor-division cycle budget ran only
    max_iter-1 propagations on an odd bound — a caller sizing
    max_iter=3 to a diameter-3 chain converged one round short. The
    budget now rounds up: 1-2-3-4 must fully close with max_iter=3."""
    from gostream_spark.operators.components import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 5)], "id BIGINT")
    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src BIGINT, dst BIGINT"
    )
    got = {
        r.id: r.cluster
        for r in connected_components(nodes, chain, max_iter=3).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def _union_find(nodes, edges):
    """Reference labels: each node -> the minimum id of its component."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def _components(spark, nodes, edges, **kw):
    from gostream_spark.operators.components import connected_components

    got = connected_components(
        spark.createDataFrame([(n,) for n in nodes], "id BIGINT"),
        spark.createDataFrame(edges, "src BIGINT, dst BIGINT"),
        **kw,
    )
    return {r.id: r.cluster for r in got.collect()}


def test_path_deeper_than_budget_raises(spark):
    """A 41-node path has diameter 40; the default budget (max_iter=20,
    10 cycles) cannot close it. The unconverged labels (21 clusters)
    must not come back as an answer."""
    import pytest

    nodes = list(range(1, 42))
    path = [(i, i + 1) for i in range(1, 41)]
    with pytest.raises(RuntimeError, match="budget of 10 cycles"):
        _components(spark, nodes, path)


def test_star_and_path_plus_clique_within_budget_are_exact(spark):
    """Graphs within the budget still come back exact, checked against
    a union-find: a 30-leaf star (diameter 2), and a 12-node path plus
    a 6-clique and a singleton under a budget just deep enough
    (max_iter=12 for diameter 11)."""
    star = [(1, leaf) for leaf in range(2, 32)]
    assert _components(spark, list(range(1, 32)), star) == _union_find(
        range(1, 32), star
    )
    nodes = list(range(1, 20))
    path = [(i, i + 1) for i in range(1, 12)]
    clique = [(a, b) for a in range(13, 19) for b in range(a + 1, 19)]
    got = _components(spark, nodes, path + clique, max_iter=12)
    assert got == _union_find(nodes, path + clique)
