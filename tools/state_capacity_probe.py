#!/usr/bin/env python
"""Beyond-memory state-store crossover probe (VERDICT r11 #6).

The r11 store-provider A/B ran at 1M state rows comfortably IN-HEAP,
where the HDFS-backed map store wins (RocksDB read 1.1-1.2x slower).
The 100 TB playbook — "flip the provider when per-partition state
approaches executor memory" — therefore had a measured LOSS region
but only an asserted WIN region. This probe measures the win region:
replay the salted decade fixture through `streaming_dedup` (union of
the stream with itself -> dropDuplicates(event_id); state rows =
distinct event ids = 100k x replicas; driven into a streaming NOOP
sink — _run_dedup_noop explains why not the registered query's
memory sink) in a FRESH subprocess per arm,
with a deliberately small JVM heap, and record where the HDFS-backed
provider degrades (GC thrash / OOM) while RocksDB — whose working set
lives in NATIVE memory and on local disk, outside -Xmx — stays flat.

    python tools/restage_decade.py                     # sf1 (1M keys)
    python tools/restage_decade.py --replicas 20 \\
        --out .tmp/decadedata/sf2                      # sf2 (2M keys)
    python tools/restage_decade.py --replicas 40 \\
        --out .tmp/decadedata/sf4                      # sf4 (4M keys)
    python tools/state_capacity_probe.py --heaps 8g,1300m

Each arm = (fixture, provider, heap) in its own interpreter/JVM so
-Xmx and the state-store singleton caches cannot leak across arms.
The child reports one JSON line: wall, summed addBatch/commit ms,
peak state rows/bytes (StreamingQueryProgress.stateOperators), JVM
GC time, Runtime.maxMemory (verifies the heap pin took), and outcome
ok | error(msg) — an OOMed JVM surfaces as error/timeout. The RocksDB
arm also enables changelog checkpointing, the form a long-running
100 TB deployment would use (delta-commit to the checkpoint log
instead of full SST upload).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)

FIXTURES = [
    ("sf1", os.path.join(REPO, ".tmp", "decadedata", "sf1")),
    ("sf2", os.path.join(REPO, ".tmp", "decadedata", "sf2")),
    ("sf3", os.path.join(REPO, ".tmp", "decadedata", "sf3")),
    ("sf4", os.path.join(REPO, ".tmp", "decadedata", "sf4")),
]


def _gc_ms(spark) -> int:
    beans = (
        spark.sparkContext._jvm.java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans()
    )
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size()))


def _op_total(progress: dict, field: str) -> int:
    """One batch's ``field`` summed over its state operators."""
    return sum(o.get(field, 0) for o in progress.get("stateOperators") or [])


def _run_dedup_noop(spark, sf_dir: str, mpt: int | None) -> float:
    """The probe pipeline: streaming_dedup's exact state shape (stream
    unioned with itself -> dropDuplicates(event_id), state rows =
    distinct event ids) but driven into a streaming NOOP sink instead
    of the registered query's memory sink. The memory sink would hold
    every deduped row on the driver (~4M rows at sf4 — GBs of heap
    that BOTH providers pay equally), which at a small -Xmx would OOM
    the arm on sink memory and mask the state-store crossover this
    probe exists to measure. The stream runs through the runner's one
    lifecycle, at its state width like the registered query, so the
    per-batch progress of this run — also the partial curve of a
    stall or a mid-replay death — is the last RECENT_PROGRESS entry.
    Returns the checkpoint's size in MiB."""
    import shutil
    import tempfile

    from gostream_spark.streaming.ops import dedup_stream
    from gostream_spark.streaming.runner import RECENT_PROGRESS, _run_stream
    from gostream_spark.streaming.source import file_stream

    ev = file_stream(spark, sf_dir, "events", mpt)
    doubled = ev.union(file_stream(spark, sf_dir, "events", mpt))
    dd = dedup_stream(doubled, keys=["event_id"], unbounded_state=True)
    ckpt = tempfile.mkdtemp(prefix="gs-capacity-ckpt-")
    RECENT_PROGRESS.clear()
    try:
        _run_stream(
            dd, lambda w: w.format("noop"), timeout_sec=2100, checkpoint=ckpt
        )
        # Disk-budget reading (r13): du of the checkpoint tree (state
        # snapshots + RocksDB changelog + offsets/commits) — the
        # `spark.local.dir`/checkpoint space a production flip must
        # budget alongside RAM.
        total = 0
        for root, _dirs, files in os.walk(ckpt):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
        return round(total / 1048576, 1)
    finally:
        # RocksDB changelog checkpointing writes GBs of SST/changelog
        # per sf4 arm; 16 arms of leaked mkdtemp dirs is real disk.
        shutil.rmtree(ckpt, ignore_errors=True)


def _jvm_mem_mib(spark) -> dict:
    """JVM-process memory snapshot from /proc (Linux): resident set,
    peak resident (VmHWM), and committed/used heap. RSS - committed
    heap ≈ native footprint (RocksDB memtables + block cache + SST
    page cache pins + JVM metaspace/threads) — the part that must be
    budgeted as `spark.executor.memoryOverhead`, invisible to -Xmx.
    Differencing RSS across arms with growing state rows at the SAME
    heap cancels the constant JVM baseline and yields native B/row."""
    try:
        jvm = spark.sparkContext._jvm
        pid = jvm.java.lang.ProcessHandle.current().pid()
        rt = jvm.java.lang.Runtime.getRuntime()
        fields = {}
        with open(f"/proc/{pid}/status") as fh:
            for ln in fh:
                if ln.startswith(("VmRSS:", "VmHWM:")):
                    k, v = ln.split(":", 1)
                    fields[k] = int(v.strip().split()[0]) // 1024  # kB->MiB
        return {
            "rss_mib": fields.get("VmRSS", 0),
            "rss_peak_mib": fields.get("VmHWM", 0),
            "heap_committed_mib": int(rt.totalMemory() / 1048576),
            "heap_used_mib": int(
                (rt.totalMemory() - rt.freeMemory()) / 1048576
            ),
        }
    except Exception:  # noqa: BLE001 — JVM gone or non-Linux /proc
        return {}


def child(sf_dir: str, provider: str, warmup_dir: str) -> None:
    from gostream_spark.session import get_spark

    spark = get_spark(app_name="state_capacity_probe")
    spark.sparkContext.setLogLevel("ERROR")
    if provider == "rocksdb":
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", ROCKSDB
        )
        spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
    _run_dedup_noop(spark, warmup_dir, None)  # JIT warm-up
    from gostream_spark.streaming.runner import (
        RECENT_PROGRESS,
        state_pressure_warning,
    )

    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    max_heap = int(rt.maxMemory())
    gc0, t0 = _gc_ms(spark), time.perf_counter()
    out: dict = {"provider": provider, "max_heap_mib": max_heap // 1048576}
    try:
        ckpt_mib = _run_dedup_noop(spark, sf_dir, 1)
        out.update(outcome="ok", ckpt_mib=ckpt_mib)
    except Exception as e:  # noqa: BLE001 — OOM arms die many ways
        out.update(outcome="error", error=f"{type(e).__name__}: {str(e)[:300]}")
    out["wall_s"] = round(time.perf_counter() - t0, 2)
    # _gc_ms is a Py4J round-trip; if the JVM is already dead (the
    # OOM case this probe exists to catch) it raises, and the
    # CAPACITY_JSON line must still be printed.
    try:
        out["gc_ms"] = _gc_ms(spark) - gc0
    except Exception:  # noqa: BLE001
        out["gc_ms"] = 0
    out.update(_jvm_mem_mib(spark))
    # The run's per-batch curve, partial after a stall or a death:
    # the r12 sf4/1300m stall committed batches at full speed right
    # up to the cliff, and the tail shows whether the guard warned
    # before the death.
    progress = RECENT_PROGRESS[-1]["batches"] if RECENT_PROGRESS else []
    if progress:
        batches = [
            {
                "batch": b.get("batchId"),
                "add_ms": (b.get("durationMs") or {}).get("addBatch", 0),
                "commit": _op_total(b, "commitTimeMs"),
                "rows": _op_total(b, "numRowsTotal"),
                "bytes": _op_total(b, "memoryUsedBytes"),
            }
            for b in progress
        ]
        out.update(
            add_batch_ms=sum(b["add_ms"] for b in batches),
            commit_ms=sum(b["commit"] for b in batches),
            state_rows=max(b["rows"] for b in batches),
            state_mib=round(max(b["bytes"] for b in batches) / 1048576, 1),
            n_batches=len(batches),
            # Guard lead time (r13): the first batch at which the
            # runtime guard's pure core would warn — turns "the 0.5x
            # flip rule warns before the ~0.7x cliff" from an
            # inference into a per-arm reading.
            first_warn_batch=next(
                (
                    b.get("batchId")
                    for b in progress
                    if state_pressure_warning(b, max_heap)
                ),
                None,
            ),
        )
        if out["outcome"] != "ok":
            out["batch_tail"] = [
                {k: b[k] for k in ("batch", "add_ms", "rows")}
                for b in batches[-8:]
            ]
    print("CAPACITY_JSON " + json.dumps(out), flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--child", action="store_true")
    ap.add_argument("--sf-dir")
    ap.add_argument("--provider", choices=("hdfs", "rocksdb"))
    ap.add_argument("--heaps", default="8g,1300m")
    ap.add_argument("--timeout", type=int, default=2400)
    ap.add_argument(
        "--warmup-dir",
        default=os.environ.get(
            "SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.01"
        ),
        help="small fixture for the JIT warm-up pass (restage_decade's "
        "--src pattern: env/flag with the sandbox path as default, so "
        "the probe ports to machines without /root/testdata)",
    )
    ap.add_argument(
        "--providers",
        default="hdfs,rocksdb",
        help="comma list; e.g. --providers rocksdb for a native-memory-"
        "only sweep",
    )
    opts = ap.parse_args()
    if opts.child:
        child(opts.sf_dir, opts.provider, opts.warmup_dir)
        return

    heaps = [h.strip() for h in opts.heaps.split(",") if h.strip()]
    providers = [p.strip() for p in opts.providers.split(",") if p.strip()]
    print(
        "| fixture | heap | provider | outcome | wall | batches | gc s "
        "| addBatch s | commit s | state rows | state MiB | ckpt MiB "
        "| rss MiB | rss peak | heap comm | heap used | warn@ |"
    )
    print("|---" * 17 + "|")
    for label, sf_dir in FIXTURES:
        if not os.path.isdir(sf_dir):
            continue
        for heap in heaps:
            for provider in providers:
                env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM=heap)
                try:
                    p = subprocess.run(
                        [
                            sys.executable,
                            os.path.abspath(__file__),
                            "--child",
                            "--sf-dir",
                            sf_dir,
                            "--provider",
                            provider,
                            "--warmup-dir",
                            opts.warmup_dir,
                        ],
                        capture_output=True,
                        text=True,
                        timeout=opts.timeout,
                        env=env,
                        cwd=REPO,
                    )
                    line = next(
                        (
                            ln
                            for ln in p.stdout.splitlines()
                            if ln.startswith("CAPACITY_JSON ")
                        ),
                        None,
                    )
                    if line:
                        r = json.loads(line[len("CAPACITY_JSON "):])
                    else:  # JVM died before reporting (hard OOM)
                        tail = (p.stderr or p.stdout).strip().splitlines()
                        r = {
                            "outcome": "died",
                            "error": (tail[-1][:200] if tail else "no output"),
                        }
                except subprocess.TimeoutExpired:
                    r = {"outcome": f"timeout>{opts.timeout}s"}
                cells = (
                    f"| {label} | {heap} | {provider} | {r['outcome']} "
                    f"| {r.get('wall_s', '-')}s "
                    f"| {r.get('n_batches', '-')} "
                    f"| {r.get('gc_ms', 0) / 1000:.1f} "
                    f"| {r.get('add_batch_ms', 0) / 1000:.1f} "
                    f"| {r.get('commit_ms', 0) / 1000:.1f} "
                    f"| {r.get('state_rows', '-')} "
                    f"| {r.get('state_mib', '-')} "
                    f"| {r.get('ckpt_mib', '-')} "
                    f"| {r.get('rss_mib', '-')} "
                    f"| {r.get('rss_peak_mib', '-')} "
                    f"| {r.get('heap_committed_mib', '-')} "
                    f"| {r.get('heap_used_mib', '-')} "
                    f"| {r.get('first_warn_batch', '-')} |"
                )
                print(cells, flush=True)
                if r.get("error"):
                    print(f"  <!-- {label}/{heap}/{provider}: {r['error']} -->")


if __name__ == "__main__":
    main()
