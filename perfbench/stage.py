"""Benchmark inputs: the sf0.1 fixture, the sf1 decade staged from it,
and the stream shards.

``fixture/sf0.1/`` holds a byte-identical copy of the repo's sf0.1 test
fixture (the ten tables of FIXTURES.md, data seed 42), so a checkout
carries the headline inputs itself and every run reads the same bytes;
the run's ``--seed`` only orders work (query order, row order inside a
stream shard). The sf1 decade is staged from that copy by
``tools/restage_decade.py`` (10 disjoint replicas, 10 shards per
table).

Staging is keyed by a content hash: ``stage_root`` names a directory
by the hash of the fixture, of this file and of
``tools/restage_decade.py``, and a finished stage carries a ``DONE``
marker holding the per-table hashes. A second run finds the marker and
reuses the stage untouched.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURE = os.path.join(HERE, "fixture", "sf0.1")
STREAM_SHARD_ROWS = 1_000

def _file_sha(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def tree_sha(path: str) -> str:
    """Content hash of a file or of every file under a directory
    (sorted relative names and bytes; symlinks hashed by target)."""
    h = hashlib.sha256()
    if os.path.isfile(path):
        return _file_sha([path])
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames.sort()
        for name in sorted(filenames):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, path).encode())
            if os.path.islink(p):
                h.update(os.readlink(p).encode())
            else:
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def fixture_hashes() -> dict[str, str]:
    """Per-table content hashes of the sf0.1 fixture."""
    return {f"sf0.1/{n}": tree_sha(os.path.join(FIXTURE, n)) for n in sorted(os.listdir(FIXTURE))}


def stage_root(fixture: dict[str, str]) -> str:
    h = hashlib.sha256(json.dumps(fixture, sort_keys=True).encode())
    h.update(_file_sha([os.path.abspath(__file__), os.path.join(ROOT, "tools", "restage_decade.py")]).encode())
    return os.path.join(ROOT, ".bench_build", "perfbench", f"stage-{h.hexdigest()[:16]}")


def ensure_stage() -> dict:
    """Build the stage once per checkout and return its manifest:
    ``{"root", "sf0.1", "sf1", "hashes": {name: sha}}``. The sf0.1
    tables are read in place from the fixture."""
    fixture = fixture_hashes()
    root = stage_root(fixture)
    done = os.path.join(root, "DONE")
    if os.path.exists(done):
        with open(done) as f:
            return json.load(f)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    decade = os.path.join(root, "sf1")
    subprocess.run(
        [
            sys.executable,
            os.path.join(ROOT, "tools", "restage_decade.py"),
            "--src", FIXTURE, "--out", decade,
        ],
        check=True,
        cwd=ROOT,
        stdout=subprocess.DEVNULL,
    )
    _copy_symlinks(decade)
    hashes = dict(fixture)
    hashes.update(
        {f"sf1/{n}": tree_sha(os.path.join(decade, n)) for n in sorted(os.listdir(decade))}
    )
    manifest = {"root": root, "sf0.1": FIXTURE, "sf1": decade, "hashes": hashes}
    with open(done + ".tmp", "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(done + ".tmp", done)
    return manifest


def _copy_symlinks(decade: str) -> None:
    """Replace the decade's region/nation symlinks with copies, so the
    stage holds no link that points outside it after a move."""
    for name in ("region", "nation"):
        p = os.path.join(decade, f"{name}.parquet")
        if os.path.islink(p):
            target = os.path.realpath(p)
            os.remove(p)
            shutil.copyfile(target, p)


def events_in_ts_order(decade: str) -> pa.Table:
    """The decade ``events`` rows, ordered by event time."""
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(
            f"SELECT * FROM read_parquet('{decade}/events.parquet/*.parquet') "
            "ORDER BY ts, event_id"
        ).fetch_arrow_table()
    finally:
        con.close()


def write_stream_shards(events: pa.Table, out_dir: str, n_rows: int, seed: int) -> list[dict]:
    """Slice the first ``n_rows`` events (ts order) into shards of
    ``STREAM_SHARD_ROWS`` rows under ``out_dir``; the seed permutes the
    rows inside each shard. Returns one record per shard."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    shards = []
    for i, lo in enumerate(range(0, n_rows, STREAM_SHARD_ROWS)):
        part = events.slice(lo, min(STREAM_SHARD_ROWS, n_rows - lo))
        part = part.take(pa.array(rng.permutation(len(part))))
        path = os.path.join(out_dir, f"shard-{i:05d}.parquet")
        pq.write_table(part, path)
        shards.append({"i": i, "rows": len(part), "file": os.path.basename(path)})
    return shards
