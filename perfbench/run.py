#!/usr/bin/env python3
"""Benchmark runner of the engine: one workload, one seed, one record.

    python3 perfbench/run.py --workload headline-sf0.1 --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py expect            # recompute perfbench/expected.json
    python3 perfbench/run.py compare BASE_DIR CHANGE_DIR

A run stages its inputs (once per checkout, not timed), starts the
engine's session, runs the workload's warm-up (checked against the
committed digests), measures for ``--seconds`` seconds, and prints one
JSON line: ``correct``, ``attempted``, ``failed`` and ``metrics`` —
the ``end_to_end`` metrics of BENCHMARK.json with ``--trace 0``, its
``per_layer`` metrics with ``--trace 1``. The full record (samples,
spans summary, edge probes, input hashes, failures) is written under
``.bench_build/perfbench/runs/``.

The end-to-end metrics share names across workloads:

- ``setup_s``: process start to the first timed operation (session
  start plus warm-up; staging, stream-shard preparation and the edge
  probes are excluded).
- ``pass_cpu_s``: CPU seconds (user + system) the engine — the Spark
  JVM, less its JIT-compiler and garbage-collector threads, and this
  Python driver — spends on one unit of work, median over the run:
  batch — a closed-loop pass over the workload's queries; stream — a
  ``run_available_now`` catch-up drain of every shard the live window
  released. The JVM service threads' CPU is recorded beside it
  (``jvm.jit_cpu_s``, ``jvm.gc_cpu_s``; see ``workloads.JVM_SERVICES``).
- ``jvm_live_heap_mb``: heap the Spark JVM still holds after a full
  collection at the end of the run. The JVM's ``VmHWM`` is recorded
  beside it; it follows garbage-collector timing and varies too much
  between identical runs to bound a change.

CPU time is bounded rather than wall time because on a shared VM the
hypervisor takes CPU time from whole runs, and the kernel keeps that
stolen time out of a process's CPU time (see ``workloads.STEAL_MAX``).
The record also carries the wall-time figures, from the windows the
host did not contend for: ``pass_s`` (median pass, or drain, wall
time) and ``op_p50_s``/``op_p95_s``/``op_geomean_s`` (batch — of the
per-query median times; stream — of the per-shard event-to-result
latencies); ``run.py compare`` reports them as recorded figures.
A traced run alternates traced and untraced windows: the traced ones
give the per-layer metrics, and ``trace.overhead_s`` is the median
traced window minus the median untraced one of the same run.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
EXPECTED = os.path.join(HERE, "expected.json")
RUN_METRICS = ("setup_s", "jvm_live_heap_mb")  # the end-to-end metrics run.py measures itself


def _require_checkout() -> None:
    """Fail fast, before any work, when the engine is not beside us."""
    missing = [
        p for p in ("gostream_spark/registry.py", "tools/restage_decade.py", "tools/io_probe.py")
        if not os.path.exists(os.path.join(ROOT, p))
    ]
    if missing:
        raise SystemExit(f"perfbench: not an engine checkout, missing {', '.join(missing)}")


def _sandbox_env() -> None:
    """Keep every file Spark and Python write inside the checkout, and
    pin the engine's parallelism to the CPUs this process may use."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS",
        f"--conf spark.local.dir={tmp} --conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        "-XX:-UseDynamicNumberOfCompilerThreads' pyspark-shell",
    )


def load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def select_metrics(all_metrics: dict[str, float], declared: list[dict]) -> dict[str, dict]:
    """The declared metrics with their declared units; a declared metric
    the run did not produce is an error, never a silent zero."""
    missing = [m["name"] for m in declared if m["name"] not in all_metrics]
    if missing:
        raise RuntimeError(f"run produced no value for {', '.join(missing)}")
    return {m["name"]: {"value": float(all_metrics[m["name"]]), "unit": m["unit"]} for m in declared}


def _probe_edge() -> dict:
    from tools.io_probe import _load_sentinel_ms, io_probe_edge, membw_probe_ms

    return {
        "sentinel_ms": _load_sentinel_ms(),
        "io_ms": io_probe_edge(samples=3)["ms"],
        "membw_ms": membw_probe_ms(n_procs=min(8, os.cpu_count() or 1)),
    }


def _contamination(edges: dict, samples: dict[str, list[float]]) -> dict:
    from tools.compare_bench import io_contamination, membw_contamination, trial_drift

    pick = lambda key: {e: edges[e][key] for e in ("start", "end")}  # noqa: E731
    return {
        "io": io_contamination(pick("io_ms")),
        "membw": membw_contamination(pick("membw_ms")),
        "trial_drift": sorted(q for q, v in samples.items() if trial_drift(v)),
    }


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a hung JVM is killed, not left behind
            proc.kill()
            proc.wait()


def run(args) -> int:
    _require_checkout()
    _sandbox_env()
    bench = load_benchmark()
    import stage
    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}")
    wl = workloads.WORKLOADS[args.workload]
    excluded = 0.0  # seconds before the first timed op that are not set-up

    t = time.perf_counter()
    ticks = workloads.cpu_ticks()
    edges = {"start": _probe_edge()}
    manifest = stage.ensure_stage()
    with open(args.expected) as f:
        expected = json.load(f)
    inputs = workloads.scale_inputs(manifest, wl["scale"])
    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    prep = None
    if wl["kind"] == "stream":
        prep = workloads.prepare_stream(manifest, args.seed, args.seconds, work)
        inputs["stream_shards"] = stage.tree_sha(prep["inputs"])
    excluded += time.perf_counter() - t

    import layers

    tracer = None
    if args.trace:
        tracer = layers.Tracer()
        tracer.install()
    from gostream_spark.session import get_spark

    t_session = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    session_s = time.perf_counter() - t_session
    try:
        progress = layers.ProgressListener()
        spark.streams.addListener(progress.listener)
        probe = layers.LayerProbe(spark, tracer, progress) if tracer else None
        sf_dir = manifest[wl["scale"]]
        if wl["kind"] == "batch":
            result, out = workloads.run_batch(
                spark, args.workload, sf_dir, args.seed, args.seconds, expected, probe
            )
        else:
            result, out = workloads.run_stream(spark, prep, args.seconds, progress, probe)
        rss = layers.vm_hwm_mb(layers.jvm_pid(spark))
        live_heap = layers.jvm_live_heap_mb(spark)
    finally:
        _stop(spark)
        workloads.cleanup(work)
    t = time.perf_counter()
    edges["end"] = _probe_edge()
    steal_frac = workloads.steal_frac(ticks)

    if wl["kind"] == "batch" and expected.get("inputs") != workloads.scale_inputs(manifest, wl["scale"]):
        result.attempted += 1
        result.fail("inputs", f"{wl['scale']} tables are not the ones the digests were made from")
    e2e = dict(out["e2e"])
    e2e["setup_s"] = out["setup_done"] - T_START - excluded
    e2e["jvm_peak_rss_mb"] = rss
    e2e["jvm_live_heap_mb"] = live_heap[-1]
    failed = len(result.failures)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": os.environ["SPARK_GRAFT_CPUS"],
        "wall_s": t - T_START,
        "attempted": result.attempted,
        "failed": failed,
        "failed_frac": failed / result.attempted,
        "failures": result.failures,
        "inputs": inputs,
        "probes": edges,
        "jvm_live_heap_mb": live_heap,
        "session_s": session_s,
        "cpu_steal_frac": steal_frac,
        "contamination": _contamination(edges, result.detail.get("samples", {})),
        "end_to_end": e2e,
        "jvm_service_cpu_s": out["jvm"],
        "detail": result.detail,
    }
    if probe is not None:
        summary = probe.summary()
        per_layer = {**summary["metrics"], **summary["queries"], **summary["operators"]}
        for q in workloads.all_workload_queries():
            per_layer.setdefault(f"q.{q}.s", 0.0)
        for name in tracer.operator_names:
            per_layer.setdefault(f"{name}.s", 0.0)
        per_layer["trace.overhead_s"] = out["trace_overhead_s"]
        per_layer.update(out["jvm"])
        record["per_layer"] = per_layer
        record["layer_passes"] = summary["passes"]
        record["spans"] = layers.span_summary(tracer.spans)
        metrics = select_metrics(per_layer, bench["per_layer"])
    else:
        metrics = select_metrics(e2e, bench["end_to_end"])
    os.makedirs(args.out, exist_ok=True)
    path = os.path.join(args.out, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(f"perfbench: record {os.path.relpath(path, ROOT)}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": result.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def main(argv: list[str]) -> int:
    if argv and argv[0] == "expect":
        _require_checkout()
        _sandbox_env()
        import expect

        return expect.main(argv[1:])
    if argv and argv[0] == "compare":
        import compare

        return compare.main(argv[1:])
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--expected", default=EXPECTED, help="digest file to check outputs against")
    ap.add_argument("--out", default=os.path.join(BUILD, "runs"), help="record directory")
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
