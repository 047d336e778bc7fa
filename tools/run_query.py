#!/usr/bin/env python
"""Run one registered query from the catalog: show its rows, and
optionally the formatted physical plan and its DuckDB oracle result.

    python tools/run_query.py pricing_summary
    python tools/run_query.py training_mix_pipeline --sf 0.1 --explain
    python tools/run_query.py join_asof --oracle      # side-by-side
    python tools/run_query.py --list                  # catalog + tags
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("name", nargs="?")
    ap.add_argument("--sf", default="0.01")
    ap.add_argument("--root", default="/root/testdata")
    ap.add_argument("--rows", type=int, default=20)
    ap.add_argument("--explain", action="store_true")
    ap.add_argument("--oracle", action="store_true")
    ap.add_argument("--list", action="store_true", dest="list_all")
    args = ap.parse_args()

    from gostream_spark.registry import all_queries

    qs = all_queries()
    if args.list_all or not args.name:
        for n, q in sorted(qs.items()):
            print(f"{n:40s} [{','.join(q.tags)}]")
        return 0
    if args.name not in qs:
        print(f"unknown query {args.name!r}; --list shows the catalog")
        return 2

    from gostream_spark.session import get_spark

    spark = get_spark(app_name=f"run_{args.name}")
    sf_dir = f"{args.root}/sf{args.sf}"
    q = qs[args.name]
    df = q.fn(spark, sf_dir)
    if args.explain:
        df.explain("formatted")
    df.show(args.rows, truncate=False)
    print(f"({df.count()} rows total)")
    if args.oracle:
        from tools.oracle import oracle_con

        con = oracle_con(sf_dir)
        print("oracle (DuckDB):")
        print(con.execute(q.oracle).fetchdf().head(args.rows).to_string())
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
