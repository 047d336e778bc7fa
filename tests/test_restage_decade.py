"""Pins for the decade-fixture relational replication (round 15).

restage_decade originally symlinked the five TPC-H-shaped tables from
the source fixture, so decade sweeps scaled only the documents/
embeddings/events families. The r15 extension stages them as R
disjoint sub-databases (every key column offset per replica). These
tests pin the invariants the sf2+ SCALE.md sweeps rely on:

- row counts scale by R for replicated tables,
- FK edges stay INSIDE a replica (no dangling keys, exactly 1x join
  fanout — a cross-replica key collision would fan joins out Rx),
- key spaces are disjoint across replicas,
- ``--no-tpch`` preserves the pre-r15 symlink shape,
- the manifest records which shape was staged.

Staging runs once per module on the tiny sf0.001 fixture (~6k-row
lineitem), so the whole module is seconds, not minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = "/root/testdata/sf0.001"
R = 2


def _stage(out: str, *extra: str) -> str:
    subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "restage_decade.py"),
            "--src",
            SRC,
            "--replicas",
            str(R),
            "--out",
            out,
            *extra,
        ],
        check=True,
        capture_output=True,
        text=True,
    )
    return out


@pytest.fixture(scope="module")
def staged(tmp_path_factory) -> str:
    return _stage(str(tmp_path_factory.mktemp("decade") / "sfX"))


@pytest.fixture(scope="module")
def staged_no_tpch(tmp_path_factory) -> str:
    return _stage(
        str(tmp_path_factory.mktemp("decade-nt") / "sfX"), "--no-tpch"
    )


def _count(path: str) -> int:
    return duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{path}')"
    ).fetchone()[0]


def test_replicated_tables_scale_by_r(staged):
    for t in ("customer", "orders", "lineitem", "part", "supplier"):
        base = _count(f"{SRC}/{t}.parquet")
        dec = _count(f"{staged}/{t}.parquet/*.parquet")
        assert dec == R * base, t


def test_shared_dims_stay_symlinked(staged):
    for t in ("region", "nation"):
        assert os.path.islink(f"{staged}/{t}.parquet")


def test_fk_edges_stay_inside_replica(staged):
    li = f"{staged}/lineitem.parquet/*.parquet"
    od = f"{staged}/orders.parquet/*.parquet"
    dangling = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{li}') l WHERE NOT EXISTS "
        f"(SELECT 1 FROM read_parquet('{od}') o "
        f"WHERE o.o_orderkey = l.l_orderkey)"
    ).fetchone()[0]
    assert dangling == 0
    # Exactly 1x fanout: a key colliding across replicas would join a
    # lineitem row to R orders rows.
    fanout = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{li}') l JOIN "
        f"read_parquet('{od}') o ON o.o_orderkey = l.l_orderkey"
    ).fetchone()[0]
    assert fanout == _count(li)


def test_key_spaces_disjoint_across_replicas(staged):
    from tools.restage_decade import ID_OFFSET

    lo, hi = (
        duckdb.sql(
            f"SELECT min(c_custkey), max(c_custkey) FROM read_parquet("
            f"'{staged}/customer.parquet/replica-0.parquet')"
        ).fetchone()
    )
    lo1 = duckdb.sql(
        f"SELECT min(c_custkey) FROM read_parquet("
        f"'{staged}/customer.parquet/replica-1.parquet')"
    ).fetchone()[0]
    assert hi < ID_OFFSET <= lo1
    assert lo1 == lo + ID_OFFSET


def test_manifest_records_shape(staged, staged_no_tpch):
    assert json.load(open(f"{staged}/manifest.json"))["tpch_replicated"]
    assert not json.load(open(f"{staged_no_tpch}/manifest.json"))[
        "tpch_replicated"
    ]


def test_no_tpch_keeps_symlink_shape(staged_no_tpch):
    for t in ("customer", "orders", "lineitem", "part", "supplier"):
        assert os.path.islink(f"{staged_no_tpch}/{t}.parquet")
    assert _count(f"{staged_no_tpch}/lineitem.parquet") == _count(
        f"{SRC}/lineitem.parquet"
    )


def test_offset_headroom_guard_refuses_oversized_keys(tmp_path):
    """ADVICE r15: a source whose key values reach ID_OFFSET would
    stage replicas with OVERLAPPING key spaces (FK edges crossing
    replicas, joins fanning out Rx) — the stager must refuse at stage
    time, before writing anything. Build a source with one oversized
    l_orderkey and check the refusal names table, column, and cap."""
    src = tmp_path / "badsrc"
    src.mkdir()
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{SRC}/{t}.parquet')) "
            f"TO '{src}/{t}.parquet' (FORMAT PARQUET)"
        )
    con.execute(
        f"COPY (SELECT * REPLACE (l_orderkey + 10_000_000 AS l_orderkey) "
        f"FROM read_parquet('{SRC}/lineitem.parquet')) "
        f"TO '{src}/lineitem.parquet' (FORMAT PARQUET)"
    )
    out = tmp_path / "out"
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "restage_decade.py"),
            "--src",
            str(src),
            "--replicas",
            "2",
            "--out",
            str(out),
        ],
        capture_output=True,
        text=True,
    )
    assert proc.returncode != 0
    msg = proc.stderr + proc.stdout
    assert "lineitem.l_orderkey" in msg
    assert "10000000" in msg or "ID_OFFSET" in msg
    assert "refusing to stage" in msg
    # Refusal happens BEFORE the output tree is touched.
    assert not out.exists()


def test_triangle_oracle_replica_scoping_exact_on_replicated_fixture(staged):
    """r16 (VERDICT r15 #2): the decade sweep checks the UNSCOPED
    engine arm of graph_triangle_count against a replica-0-restricted
    oracle, on the argument that verbatim non-key columns + in-replica
    order keys make per-pair support exactly R * s_replica0, so the
    quantile-thresholded edge set — hence triangle counts — equals
    replica 0's. Pin the argument on the staged fixture: the full
    unscoped oracle and the replica-0-scoped oracle must return
    identical rows."""
    sys.path.insert(0, REPO)
    from gostream_spark.queries.statistics_ops import triangle_oracle
    from tools.oracle import oracle_con
    from tools.restage_decade import ID_OFFSET

    con = oracle_con(staged)
    full = sorted(map(tuple, con.execute(triangle_oracle()).fetchall()))
    scoped = sorted(
        map(tuple, con.execute(triangle_oracle(ID_OFFSET)).fetchall())
    )
    assert full and full == scoped
