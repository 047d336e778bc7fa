"""Pure helpers of the benchmark: percentiles, interval unions, the
shard-to-batch latency mapping of the stream workload, span self time,
SQL-metric parsing and the parent-vs-change verdict. Nothing here
touches Spark, so ``test_perfbench.py`` covers it on synthetic input.
"""

from __future__ import annotations

import math
import re
import statistics
from datetime import datetime, timezone


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolation quantile (``q`` in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    pos = q * (len(xs) - 1)
    lo = int(math.floor(pos))
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) < 2:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def uncontended(windows: list[dict], steal_max: float, need: int) -> list[dict]:
    """The windows whose ``steal_frac`` is at most ``steal_max``, when
    there are at least ``need`` of them; otherwise every window."""
    clean = [w for w in windows if w["steal_frac"] <= steal_max]
    return clean if len(clean) >= need else list(windows)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    end = -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def clipped(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    """The parts of ``intervals`` inside [lo, hi]."""
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def driver_only_s(window: tuple[float, float], jobs: list[tuple[float, float]]) -> float:
    """Time inside ``window`` during which no job ran: the complement of
    the union of the job intervals."""
    lo, hi = window
    return (hi - lo) - union_length(clipped(jobs, lo, hi))


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its child spans
    cover. Spans carry ``id``, ``parent``, ``t0`` and ``t1``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {
        s["id"]: (s["t1"] - s["t0"])
        - union_length(clipped(children.get(s["id"], []), s["t0"], s["t1"]))
        for s in spans
    }


def progress_end_s(progress: dict) -> float:
    """Wall-clock end of a micro-batch: its ``timestamp`` (trigger
    start) plus ``durationMs.triggerExecution``, in epoch seconds."""
    ts = datetime.strptime(progress["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = ts.replace(tzinfo=timezone.utc).timestamp()
    return start + (progress.get("durationMs") or {}).get("triggerExecution", 0) / 1000.0


def shard_latencies(
    shards: list[dict], batches: list[dict], base_rows: int = 0
) -> list[dict]:
    """Map each released shard to the micro-batch that committed it.

    ``shards`` are in release order, each with ``rows``, ``due`` and
    ``released`` (epoch seconds). ``batches`` are progress dicts
    (``batchId``, ``numInputRows``, ``timestamp``, ``durationMs``).
    ``base_rows`` were in the source before the first shard (they are
    committed by the first batches and are not samples).

    A shard's result batch is the first batch whose cumulative
    ``numInputRows`` covers the shard; its latency runs from the
    shard's due time to that batch's end. A no-data batch adds no rows
    and so never covers a shard. Shards no batch covers get
    ``batch=None``."""
    ends = []
    cum = 0
    for b in sorted(batches, key=lambda b: b["batchId"]):
        cum += b.get("numInputRows", 0) or 0
        ends.append((cum, progress_end_s(b), b["batchId"]))
    out = []
    need = base_rows
    j = 0
    for s in shards:
        need += s["rows"]
        while j < len(ends) and ends[j][0] < need:
            j += 1
        if j == len(ends):
            out.append({**s, "batch": None, "end": None, "latency_s": None})
        else:
            cum, end, bid = ends[j]
            out.append({**s, "batch": bid, "end": end, "latency_s": end - s["due"]})
    return out


def backlog_rows(shards: list[dict], batches: list[dict], base_rows: int = 0) -> list[int]:
    """At each batch end: rows released but not yet committed."""
    out = []
    committed = base_rows
    for b in sorted(batches, key=lambda b: b["batchId"]):
        committed += b.get("numInputRows", 0) or 0
        end = progress_end_s(b)
        released = base_rows + sum(s["rows"] for s in shards if s["released"] <= end)
        out.append(max(0, released - committed))
    return out


_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def sql_metric_bytes(text: str | None) -> float:
    """Bytes from a formatted size SQL metric, e.g. ``"795.2 KiB"`` or
    ``"total (min, med, max ...)\\n795.2 KiB (198.8 KiB, ...)"``."""
    if not text:
        return 0.0
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([0-9.,]+)\s*(B|KiB|MiB|GiB|TiB)\b", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE[m.group(2)]


def verdict(
    base: list[float], change: list[float], bound: float, better: str = "lower"
) -> dict:
    """Compare two sets of runs of one metric by the choosing-metrics
    rule (§6.5, §8): medians, quartiles, the share of pairs the change
    wins, and one of "improved", "no worse", "worse" or "unresolved".

    Pairs are formed index by index (callers order both sides by seed).
    "improved": the change wins at least 9/10 of the pairs and the
    medians differ by more than the parent's interquartile distance.
    "no worse": the change's median is within ``bound`` of the
    parent's and the parent's own spread is within the bound; when the
    spread is wider the result is "unresolved" unless every change run
    beats every parent run."""
    sign = 1.0 if better == "lower" else -1.0
    bq1, bmed, bq3 = quartiles(base)
    cq1, cmed, cq3 = quartiles(change)
    pairs = list(zip(base, change))
    wins = sum(1 for b, c in pairs if sign * (b - c) > 0)
    won = wins / len(pairs) if pairs else 0.0
    spread = (bq3 - bq1) / abs(bmed) if bmed else math.inf
    gain = sign * (bmed - cmed)
    if won >= 0.9 and gain > (bq3 - bq1):
        result = "improved"
    elif all(sign * (b - c) > 0 for b in base for c in change):
        result = "no worse"
    elif spread > bound:
        result = "unresolved"
    elif -gain <= bound * abs(bmed):
        result = "no worse"
    else:
        result = "worse"
    return {
        "base": (bq1, bmed, bq3),
        "change": (cq1, cmed, cq3),
        "pairs_won": won,
        "n_pairs": len(pairs),
        "result": result,
    }
