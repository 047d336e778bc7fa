#!/usr/bin/env python
"""Time registered queries across fixture directories: the one
query-timing probe.

    python tools/time_queries.py        # bench batch queries, sf0.001/0.01/0.1
    python tools/time_queries.py exact_substr_dedup bm25_topk \\
        --sf-dirs /root/testdata/sf0.1,.tmp/decadedata/sf1 --trials 3

Protocol: one untimed warm-up pass of every named query on the first
dir (JIT and codegen are charged to that throwaway pass, not to
whichever query is measured first), then for each (query, dir) one
warm noop write, ``--trials`` timed noop writes (the best is
reported; plan construction is inside the timed region) and one
``count()`` for the rows. On a decade fixture (one with a
``manifest.json``, staged by tools/restage_decade.py) a query runs
with the kwargs of ``tools.decade_scope.scoped_overrides`` — the same
call `tools/sweep.py` exact-checks there — and its row is starred.

Output, on stdout only (redirect it yourself; nothing is written):
a markdown table with one row per query — the time per dir, the
ratio of each adjacent pair of dirs, the rows per dir — and one line
with the ``tools.io_probe`` edges (io min-of-3 and CPU sentinel)
taken before the session starts and after the last query.

Reading it: input grows ~10x per fixture step. A sub-10x time ratio
means fixed overhead still dominates at that size, ~10x means
scan-bound, and a super-linear ratio means a quadratic operator. Read
a time ratio against the rows ratio when the output grows faster
than the input.

A/B of two trees: run each checkout's own copy of this tool back to
back in one window, in A/B/A order (the second tree otherwise reads
a page cache the first one warmed), and compare best against best.
Use ``--trials 6`` for sub-second queries: best-of-3 can still be
descending with JIT warm-in.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gostream_spark.registry import all_queries  # noqa: E402
from tools.decade_scope import scoped_overrides  # noqa: E402

DEFAULT_SF_DIRS = "/root/testdata/sf0.001,/root/testdata/sf0.01,/root/testdata/sf0.1"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def time_queries(spark, names, sf_dirs, trials: int = 2) -> list[dict]:
    """One dict per query name: ``seconds`` (best timed write per dir),
    ``ratios`` (each dir's seconds over the previous dir's), ``rows``
    (per dir) and ``scoped`` (per dir: ran with decade kwargs)."""
    qs = all_queries()
    scopes = [scoped_overrides(d) for d in sf_dirs]

    def build(name, i):
        kwargs = scopes[i].get(name, ({}, None))[0]
        return qs[name].fn(spark, sf_dirs[i], **kwargs)

    for name in names:
        _noop(build(name, 0))
    results = []
    for name in names:
        seconds, rows = [], []
        for i in range(len(sf_dirs)):
            _noop(build(name, i))
            best = float("inf")
            for _ in range(trials):
                t0 = time.perf_counter()
                _noop(build(name, i))
                best = min(best, time.perf_counter() - t0)
            seconds.append(best)
            rows.append(build(name, i).count())
        results.append(
            {
                "name": name,
                "seconds": seconds,
                "ratios": [b / a for a, b in zip(seconds, seconds[1:])],
                "rows": rows,
                "scoped": [name in s for s in scopes],
            }
        )
    return results


def to_markdown(results: list[dict], sf_dirs) -> str:
    labels = [os.path.basename(os.path.normpath(d)) for d in sf_dirs]
    steps = [f"{b}/{a}" for a, b in zip(labels, labels[1:])]
    head = labels + steps + [f"rows {x}" for x in labels]
    lines = [
        "| Query | " + " | ".join(head) + " |",
        "|---" * (len(head) + 1) + "|",
    ]
    for r in results:
        star = "*" if any(r["scoped"]) else ""
        cells = (
            [f"{s:.3f}s" for s in r["seconds"]]
            + [f"{x:.1f}×" for x in r["ratios"]]
            + [str(n) for n in r["rows"]]
        )
        lines.append(f"| `{r['name']}`{star} | " + " | ".join(cells) + " |")
    return "\n".join(lines)


def main() -> None:
    from gostream_spark.session import get_spark
    from tools.io_probe import _load_sentinel_ms, io_probe_edge

    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="registered queries (default: bench batch set)")
    ap.add_argument("--sf-dirs", default=DEFAULT_SF_DIRS, help="comma-separated fixture dirs")
    ap.add_argument("--trials", type=int, default=2)
    opts = ap.parse_args()
    qs = all_queries()
    names = opts.names or sorted(
        n for n, q in qs.items() if q.bench and not n.startswith("streaming")
    )
    missing = [n for n in names if n not in qs]
    if missing:
        raise SystemExit(f"not registered: {missing}")
    sf_dirs = [d.strip() for d in opts.sf_dirs.split(",") if d.strip()]

    io0, s0 = io_probe_edge(samples=3)["ms"], _load_sentinel_ms()
    spark = get_spark(app_name="time_queries")
    spark.sparkContext.setLogLevel("ERROR")
    results = time_queries(spark, names, sf_dirs, opts.trials)
    io1, s1 = io_probe_edge(samples=3)["ms"], _load_sentinel_ms()
    print(to_markdown(results, sf_dirs))
    print()
    print(
        f"best of {opts.trials} after a warm-up; * = decade-scoped kwargs; "
        f"probes start/end: io {io0}/{io1} ms, sentinel {s0}/{s1} ms"
    )


if __name__ == "__main__":
    main()
