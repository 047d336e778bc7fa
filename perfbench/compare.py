"""``run.py compare``: parent runs against change runs.

    python3 perfbench/run.py compare BASE CHANGE

``BASE`` and ``CHANGE`` are record directories, searched recursively
(or single record files), written by ``run.py``. For each workload and end-to-end metric
the untraced records give each side's median and quartiles, the share
of seed-paired runs the change wins, and a verdict by
``stats.verdict``: "improved", "no worse", "worse" or "unresolved"
against the metric's bound in BENCHMARK.json. The traced records give
the per-layer medians and deltas, each printed with the end-to-end
metric it is expected to move (``TARGETS``). Runs whose edge probes
flagged contamination are listed, never silently averaged in.
"""

from __future__ import annotations

import argparse
import json
import os

import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Per-layer metric (by name prefix) -> the end-to-end metric and
# workload it should move. Longest matching prefix wins.
TARGETS = {
    "queries.build": "pass_cpu_s on headline-sf0.1",
    "queries.action": "pass_cpu_s on headline-sf0.1",
    "q.": "pass_cpu_s on headline-sf0.1",
    "eager.": "pass_cpu_s on headline-sf0.1",
    "io.": "pass_cpu_s on headline-sf0.1",
    "operators.": "pass_cpu_s on headline-sf0.1",
    "catalyst.": "pass_cpu_s on headline-sf0.1",
    "spark.jobs": "pass_cpu_s on headline-sf0.1",
    "spark.driver_only_s": "pass_cpu_s on headline-sf0.1",
    "spark.": "pass_cpu_s on both workloads (stream: the catch-up drain)",
    "runner.": "pass_cpu_s on stream-open-loop",
    "stream.add_batch": "pass_cpu_s on stream-open-loop",
    "stream.": "op_p50_s (recorded) on stream-open-loop",
    "source.": "op_p95_s (recorded) on stream-open-loop",
    "generator.": "validity check of stream-open-loop, not a program metric",
    "trace.": "reconciliation of the traced run",
    "jvm.": "left out of pass_cpu_s; pass_s (recorded) on both workloads",
}
# Wall-time figures every record carries beside the bounded metrics;
# compared with the widest bound BENCHMARK.json allows, so a host that
# spread them past it reports them "unresolved".
RECORDED = (("pass_s", "s"), ("op_p50_s", "s"), ("op_p95_s", "s"), ("op_geomean_s", "s"))
RECORDED_BOUND = 0.25


def target(name: str) -> str:
    best = max((p for p in TARGETS if name.startswith(p)), key=len, default=None)
    return TARGETS[best] if best else ""


def load_records(path: str) -> list[dict]:
    if os.path.isfile(path):
        names = [path]
    else:
        names = sorted(
            os.path.join(d, n) for d, _, files in os.walk(path) for n in files if n.endswith(".json")
        )
    out = []
    for n in names:
        with open(n) as f:
            out.append(json.load(f))
    return out


def _by_workload(records: list[dict], trace: int) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = {}
    for r in sorted(records, key=lambda r: r["seed"]):
        if r["trace"] == trace:
            out.setdefault(r["workload"], []).append(r)
    return out


def _fmt(q: tuple[float, float, float]) -> str:
    return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"


def _flagged(records: list[dict]) -> list[str]:
    return [
        f"seed {r['seed']}: " + "; ".join(f"{k}: {v}" for k, v in r["contamination"].items() if v)
        for r in records
        if any(r["contamination"].values())
    ]


def compare_e2e(base: list[dict], change: list[dict], bench: dict) -> list[str]:
    lines = []
    b, c = _by_workload(base, 0), _by_workload(change, 0)
    for wl in sorted(set(b) & set(c)):
        # Runs pair by seed; two sets made on different seeds pair in
        # seed order.
        seeds = sorted({r["seed"] for r in b[wl]} & {r["seed"] for r in c[wl]})
        if seeds:
            bs = [next(r for r in b[wl] if r["seed"] == s) for s in seeds]
            cs = [next(r for r in c[wl] if r["seed"] == s) for s in seeds]
            lines.append(f"{wl}: {len(seeds)} seed pairs")
        else:
            bs, cs = b[wl], c[wl]
            lines.append(f"{wl}: no common seed, {min(len(bs), len(cs))} pairs in seed order")
        for side, rs in (("base", b[wl]), ("change", c[wl])):
            for f in _flagged(rs):
                lines.append(f"  {side} flagged {f}")
            failed = sum(r["failed"] for r in rs)
            if failed:
                lines.append(f"  {side}: {failed} failed operations")
        metrics = [(m["name"], m["unit"], m["bound"], m["better"], "") for m in bench["end_to_end"]]
        metrics += [(name, unit, RECORDED_BOUND, "lower", " (recorded)") for name, unit in RECORDED]
        for name, unit, bound, better, note in metrics:
            v = stats.verdict(
                [r["end_to_end"][name] for r in bs],
                [r["end_to_end"][name] for r in cs],
                bound,
                better,
            )
            lines.append(
                f"  {name:<16} {unit:<4} base {_fmt(v['base'])}  change {_fmt(v['change'])}"
                f"  won {v['pairs_won']:.0%}  {v['result']}{note}"
            )
    return lines


def compare_layers(base: list[dict], change: list[dict], bench: dict) -> list[str]:
    lines = []
    b, c = _by_workload(base, 1), _by_workload(change, 1)
    for wl in sorted(set(b) & set(c)):
        lines.append(f"{wl}: per-layer medians ({len(b[wl])} base, {len(c[wl])} change traced runs)")
        for m in bench["per_layer"]:
            name = m["name"]
            bm = stats.quantile([r["per_layer"][name] for r in b[wl]], 0.5)
            cm = stats.quantile([r["per_layer"][name] for r in c[wl]], 0.5)
            if bm == cm == 0:
                continue
            lines.append(
                f"  {name:<36} {m['unit']:<5} {bm:>11.4g} -> {cm:<11.4g} "
                f"delta {cm - bm:+.4g}  ({target(name)})"
            )
    return lines


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(prog="run.py compare")
    ap.add_argument("base")
    ap.add_argument("change")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    base, change = load_records(args.base), load_records(args.change)
    for line in compare_e2e(base, change, bench) + compare_layers(base, change, bench):
        print(line)
    return 0
