"""``run.py expect``: recompute the committed output digests.

For every query of a batch workload, the registered DuckDB oracle runs
over that workload's tables and its rows are reduced to an
order-insensitive digest (``tools.canon.canon_value`` per value, then a
hash of the sorted rows). The digests and the hashes of the tables
they were made from go to ``perfbench/expected.json``; every benchmark
run checks its warm-up outputs against them.

    python3 perfbench/run.py expect [--out PATH]
"""

from __future__ import annotations

import argparse
import json
import os

import stage
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))


def main(argv: list[str]) -> int:
    from gostream_spark.registry import get_query

    ap = argparse.ArgumentParser(prog="run.py expect")
    ap.add_argument("--out", default=os.path.join(HERE, "expected.json"))
    args = ap.parse_args(argv)
    manifest = stage.ensure_stage()
    digests: dict[str, str] = {}
    rows: dict[str, int] = {}
    inputs: dict[str, str] = {}
    for wl in workloads.WORKLOADS.values():
        if wl["kind"] != "batch":
            continue
        scale = wl["scale"]
        inputs.update(workloads.scale_inputs(manifest, scale))
        con = workloads.duckdb_views(manifest[scale])
        for q in wl["queries"]:
            key = f"{scale}/{q}"
            digests[key], rows[key] = workloads.duckdb_digest(con, get_query(q).oracle)
            print(f"{key}: {rows[key]} rows {digests[key][:12]}")
        con.close()
    with open(args.out, "w") as f:
        json.dump({"inputs": inputs, "rows": rows, "digests": digests}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0
