"""Tracing and Spark-side readers for the benchmark's traced run, and
the streaming progress listener both runs use.

``Tracer.install`` wraps the public functions of each engine layer
(``io``, ``operators``, ``streaming.source``/``ops``/``runner``) and
the eager pyspark DataFrame actions, from outside the engine: every
wrapped call records a span (name, layer, start, end, parent span, and
the query and pass it belongs to). The wrappers are installed on each
defining module and on every re-export before
``gostream_spark.queries`` is first imported, so the query modules'
``from ... import`` bindings resolve to the wrapped functions. Spans
stay in memory and are written with the run record.

``SparkReader`` reads Spark's own status store (jobs, stages, SQL
executions); ``CatalystListener`` receives the Catalyst phase times of
each query execution; ``ProgressListener`` collects streaming progress
events.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import threading
import time

import stats

# Layer -> (module, public functions). Operator and stream-op modules
# are wrapped whole (their public top-level functions) minus the
# functions that run inside Python UDF workers.
_IO = ("gostream_spark.io", ("load_table", "load_spread", "spread_for_compute"))
_OPERATOR_MODULES = (
    "gostream_spark.operators.asof",
    "gostream_spark.operators.components",
    "gostream_spark.operators.dedup",
    "gostream_spark.operators.event_windows",
    "gostream_spark.operators.multimodal",
    "gostream_spark.operators.pagerank",
    "gostream_spark.operators.pareto",
    "gostream_spark.operators.prefix_join",
    "gostream_spark.operators.ranking",
    "gostream_spark.operators.skew",
)
_UDF_BODIES = {"decode_image", "resize_image", "sample_frames", "pack_payload"}
_STREAM = {
    "source": ("gostream_spark.streaming.source", ("file_stream", "rate_stream")),
    "runner": (
        "gostream_spark.streaming.runner",
        ("run_available_now", "run_until", "run_foreach_batch_parquet", "run_foreach_batch_split"),
    ),
}
_EAGER = {
    "localCheckpoint": "checkpoint",
    "checkpoint": "checkpoint",
    "collect": "collect",
    "count": "collect",
    "toPandas": "collect",
    "first": "collect",
}


def _public_functions(mod) -> list[str]:
    return sorted(
        n
        for n, v in vars(mod).items()
        if callable(v)
        and not n.startswith("_")
        and getattr(v, "__module__", None) == mod.__name__
        and not isinstance(v, type)
        and n not in _UDF_BODIES
    )


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.query: str | None = None
        self.pass_no: int | None = None
        self.operator_names: list[str] = []
        self.active = True

    def begin(self, name: str, layer: str) -> dict:
        span = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "query": self.query,
            "pass": self.pass_no,
            "t0": time.time(),
            "t1": None,
        }
        self.spans.append(span)
        self._stack.append(span["id"])
        return span

    def end(self, span: dict) -> None:
        span["t1"] = time.time()
        self._stack.pop()

    def open_layers(self) -> set[str]:
        return {self.spans[i]["layer"] for i in self._stack}

    def wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            span = tracer.begin(name, layer)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(span)

        return wrapper

    def _wrap_eager(self, cls, method: str, kind: str) -> None:
        fn = getattr(cls, method)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            # Only eager actions issued inside a query callable count,
            # and only the outermost one (``first`` calls ``collect``).
            layers = tracer.open_layers()
            if "queries" not in layers or "eager" in layers:
                return fn(*args, **kwargs)
            span = tracer.begin(f"eager.{kind}.{method}", "eager")
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(span)

        setattr(cls, method, wrapper)

    def install(self) -> None:
        """Wrap every layer's public functions on their defining
        modules and on every module that re-exports them. Must run
        before ``gostream_spark.queries`` is imported."""
        if "gostream_spark.queries" in sys.modules:
            raise RuntimeError("tracing must be installed before the query modules load")
        targets: dict[int, tuple[object, str, str]] = {}

        def add(mod_name: str, names, layer: str, prefix: str) -> None:
            mod = importlib.import_module(mod_name)
            for n in names:
                fn = getattr(mod, n)
                targets[id(fn)] = (fn, f"{prefix}.{n}", layer)

        mod_name, names = _IO
        add(mod_name, names, "io", "io")
        for mod_name in _OPERATOR_MODULES:
            add(mod_name, _public_functions(importlib.import_module(mod_name)), "operators", "operators")
        for short, (mod_name, names) in _STREAM.items():
            add(mod_name, names, f"streaming.{short}", short)
        ops = importlib.import_module("gostream_spark.streaming.ops")
        add(ops.__name__, _public_functions(ops), "streaming.ops", "ops")
        self.operator_names = sorted(name for _, name, layer in targets.values() if layer == "operators")
        wrappers = {key: self.wrap(fn, name, layer) for key, (fn, name, layer) in targets.items()}
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("gostream_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                w = wrappers.get(id(val))
                if w is not None and targets[id(val)][0] is val:
                    setattr(mod, attr, w)
        from pyspark.sql.classic.dataframe import DataFrame

        for method, kind in _EAGER.items():
            self._wrap_eager(DataFrame, method, kind)


def span_summary(spans: list[dict]) -> dict[str, dict]:
    """Per span name: calls, total seconds and self seconds."""
    selfs = stats.self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        e = out.setdefault(s["name"], {"layer": s["layer"], "calls": 0, "s": 0.0, "self_s": 0.0})
        e["calls"] += 1
        e["s"] += s["t1"] - s["t0"]
        e["self_s"] += selfs[s["id"]]
    return out


class ProgressListener:
    """Collects every streaming progress event as a parsed dict."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.events: list[dict] = []
        self._lock = threading.Lock()

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                with outer._lock:
                    outer.events.append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _L()

    def snapshot(self) -> list[dict]:
        with self._lock:
            return list(self.events)


class CatalystListener:
    """QueryExecutionListener (through the py4j callback server): the
    Catalyst phase times of every query execution that succeeds."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self.events: list[dict] = []
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):
        phases = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = kv._2().durationMs()
        self.events.append({"func": func_name, "phases": phases, "tag": None})

    def onFailure(self, func_name, qe, exc):
        self.events.append({"func": func_name, "phases": {}, "tag": None, "failed": True})

    def tag_new(self, tag: str) -> list[dict]:
        new = [e for e in self.events if e["tag"] is None]
        for e in new:
            e["tag"] = tag
        return new

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class SparkReader:
    """Reads jobs, stages and SQL executions from Spark's status store
    (works with the UI disabled). ``take`` returns what ran since the
    previous call."""

    _PY_NODES = ("Python", "Pandas", "Arrow")

    def __init__(self, spark) -> None:
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.last_job = -1
        self.last_exec = -1
        self.take()

    def flush(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty(10_000)

    def take(self) -> dict:
        self.flush()
        jobs = []
        stages: dict[int, dict] = {}
        it = self.store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            jid = j.jobId()
            if jid <= self.last_job:
                continue
            sub = j.submissionTime()
            comp = j.completionTime()
            t0 = sub.get().getTime() / 1000 if sub.isDefined() else None
            t1 = comp.get().getTime() / 1000 if comp.isDefined() else time.time()
            group = j.jobGroup()
            jobs.append({
                "id": jid,
                "t0": t0,
                "t1": t1,
                "group": group.get() if group.isDefined() else None,
                "failed_tasks": j.numFailedTasks(),
            })
            sit = j.stageIds().iterator()
            while sit.hasNext():
                sid = sit.next()
                if sid in stages:
                    continue
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — evicted stage
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                stages[sid] = {
                    "tasks": st.numCompleteTasks() + st.numFailedTasks(),
                    "failed_tasks": st.numFailedTasks(),
                    "run_ms": st.executorRunTime(),
                    "cpu_ns": st.executorCpuTime(),
                    "shuffle_write": st.shuffleWriteBytes(),
                    "shuffle_read": st.shuffleReadBytes(),
                    "spill": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                    "input": st.inputBytes(),
                }
        if jobs:
            self.last_job = max(j["id"] for j in jobs)
        return {"jobs": jobs, "stages": stages, "pyudf_bytes": self._take_sql()}

    def _take_sql(self) -> float:
        total = 0.0
        eid = self.last_exec + 1
        while True:
            ex = self.sql.execution(eid)
            if not ex.isDefined():
                break
            if ex.get().completionTime().isDefined():
                total += self._pyudf_bytes(eid)
                self.last_exec = eid
                eid += 1
            else:
                break
        return total

    def _pyudf_bytes(self, eid: int) -> float:
        metrics = self.sql.executionMetrics(eid)
        total = 0.0
        nodes = self.sql.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            if not any(k in node.name() for k in self._PY_NODES):
                continue
            mit = node.metrics().iterator()
            while mit.hasNext():
                m = mit.next()
                if "Python workers" in m.name() and m.name().startswith("data "):
                    v = metrics.get(m.accumulatorId())
                    if v.isDefined():
                        total += stats.sql_metric_bytes(v.get())
        return total


def _p50(values: list[float]) -> float:
    return stats.quantile(values, 0.5) if values else 0.0


def stream_metrics(batches: list[dict]) -> dict[str, float]:
    """``stream.*`` per-layer metrics from progress events."""

    def dur(key: str) -> list[float]:
        return [float((b.get("durationMs") or {}).get(key, 0)) for b in batches]

    ops = [b.get("stateOperators") or [] for b in batches]
    data = [b for b in batches if b.get("numInputRows")]
    return {
        "stream.batches": float(len(batches)),
        "stream.rows_per_batch_p50": _p50([float(b["numInputRows"]) for b in data]),
        "stream.trigger_ms_p50": _p50(dur("triggerExecution")),
        "stream.latest_offset_ms_p50": _p50(dur("latestOffset")),
        "stream.query_planning_ms_p50": _p50(dur("queryPlanning")),
        "stream.add_batch_ms_p50": _p50(dur("addBatch")),
        "stream.wal_commit_ms_p50": _p50(dur("walCommit")),
        "stream.state_commit_ms_p50": _p50([float(sum(o.get("commitTimeMs", 0) for o in op)) for op in ops]),
        "stream.state_rows_max": float(max([sum(o.get("numRowsTotal", 0) for o in op) for op in ops], default=0)),
        "stream.state_mb_max": max(
            [sum(o.get("memoryUsedBytes", 0) for o in op) / 1048576 for op in ops], default=0.0
        ),
    }


def spark_metrics(window: tuple[float, float], take: dict) -> dict[str, float]:
    """``spark.*`` per-layer metrics of one pass from a status-store take."""
    st = take["stages"].values()
    jobs = [(j["t0"], j["t1"]) for j in take["jobs"] if j["t0"] is not None]
    mb = 1048576
    return {
        "spark.jobs": float(len(take["jobs"])),
        "spark.stages": float(len(take["stages"])),
        "spark.tasks": float(sum(s["tasks"] for s in st)),
        "spark.driver_only_s": stats.driver_only_s(window, jobs),
        "spark.executor_run_s": sum(s["run_ms"] for s in st) / 1000,
        "spark.executor_cpu_s": sum(s["cpu_ns"] for s in st) / 1e9,
        "spark.shuffle_write_mb": sum(s["shuffle_write"] for s in st) / mb,
        "spark.shuffle_read_mb": sum(s["shuffle_read"] for s in st) / mb,
        "spark.spill_mb": sum(s["spill"] for s in st) / mb,
        "spark.input_mb": sum(s["input"] for s in st) / mb,
        "spark.task_failures": float(sum(s["failed_tasks"] for s in st)),
        "spark.pyudf_mb": take["pyudf_bytes"] / mb,
    }


def _outermost(spans: list[dict], layer: str, by_id: dict[int, dict]) -> list[dict]:
    return [
        s for s in spans
        if s["layer"] == layer and (s["parent"] is None or by_id[s["parent"]]["layer"] != layer)
    ]


def pass_metrics(
    spans: list[dict], take: dict, phases: list[dict], batches: list[dict], window: dict
) -> dict[str, float]:
    """Every per-layer metric of one measured window (a batch pass or
    the live stream) from the spans that lie in it, a status-store
    take, the Catalyst phases of its final actions and its streaming
    progress events."""
    by_id = {s["id"]: s for s in spans}
    jobs = take["jobs"]

    def total(ss) -> float:
        return sum(s["t1"] - s["t0"] for s in ss)

    def jobs_in(ss) -> float:
        iv = [(s["t0"], s["t1"]) for s in ss]
        return float(sum(1 for j in jobs if j["t0"] is not None and any(a <= j["t0"] <= b for a, b in iv)))

    def of(layer: str, prefix: str = "") -> list[dict]:
        return [s for s in spans if s["layer"] == layer and s["name"].startswith(prefix)]

    build, action, ops = of("queries"), of("action"), _outermost(spans, "operators", by_id)
    ends = sorted(stats.progress_end_s(b) for b in batches)
    start_s, finish_s = [], []
    for r in of("streaming.runner"):
        inside = [e for e in ends if r["t0"] <= e <= r["t1"]]
        if inside:
            start_s.append(inside[0] - r["t0"])
            finish_s.append(r["t1"] - inside[-1])
    loads = [
        s for s in of("io") if s["name"] in ("io.load_table", "io.load_spread")
        and by_id.get(s["parent"], {}).get("layer") != "io"
    ]
    m = {
        "queries.build_s": total(build),
        "queries.build_jobs": float(sum(1 for j in jobs if (j["group"] or "").endswith("/build"))),
        "queries.action_s": total(action),
        "queries.action_jobs": float(sum(1 for j in jobs if (j["group"] or "").endswith("/action"))),
        "eager.checkpoint_calls": float(len(of("eager", "eager.checkpoint"))),
        "eager.checkpoint_s": total(of("eager", "eager.checkpoint")),
        "eager.collect_calls": float(len(of("eager", "eager.collect"))),
        "eager.collect_s": total(of("eager", "eager.collect")),
        "io.load_calls": float(len(loads)),
        "io.load_s": total(_outermost(spans, "io", by_id)),
        "io.spread_probe_s": total(of("io", "io.spread_for_compute")),
        "operators.s": total(ops),
        "operators.jobs": jobs_in(ops),
        "catalyst.analysis_ms": float(sum(ph.get("analysis", 0) for ph in phases)),
        "catalyst.optimization_ms": float(sum(ph.get("optimization", 0) for ph in phases)),
        "catalyst.planning_ms": float(sum(ph.get("planning", 0) for ph in phases)),
        "runner.start_s": _p50(start_s),
        "runner.finish_s": _p50(finish_s),
        "source.backlog_rows_p95": 0.0,
        "generator.late_p95_s": 0.0,
        "trace.pass_s": window["s"],
        **spark_metrics((window["t0"], window["t1"]), take),
        **stream_metrics(batches),
    }
    m["trace.unaccounted_frac"] = (
        1.0 - (m["queries.build_s"] + m["queries.action_s"]) / window["s"] if build else 0.0
    )
    return m


class LayerProbe:
    """Per-pass layer accounting of the traced run."""

    def __init__(self, spark, tracer: Tracer, progress: ProgressListener) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.progress = progress
        self.reader = SparkReader(spark)
        self.catalyst = CatalystListener(spark)
        self.passes: list[dict] = []
        self.per_query: dict[str, list[float]] = {}

    def begin_measure(self) -> None:
        """Forget everything the warm-up launched."""
        self.set_active(True)

    def set_active(self, on: bool) -> None:
        """Switch the span wrappers on or off, forgetting what ran since
        the last traced window (warm-up or an untraced pass)."""
        self.reader.take()
        self.catalyst.tag_new("untraced")
        self.tracer.active = on

    def _group(self, p: int, q: str, phase: str) -> None:
        self.sc.setJobGroup(f"perfbench/{p}/{q}/{phase}", f"{q} {phase}")

    def run_query(self, spark, q: str, p: int, build) -> None:
        tr = self.tracer
        tr.query, tr.pass_no = q, p
        try:
            self._group(p, q, "build")
            span = tr.begin(f"q.{q}.build", "queries")
            try:
                df = build()
            finally:
                tr.end(span)
            self.reader.flush()
            self.catalyst.tag_new("build")
            self._group(p, q, "action")
            span = tr.begin(f"q.{q}.action", "action")
            try:
                df.write.format("noop").mode("overwrite").save()
            finally:
                tr.end(span)
            self.reader.flush()
            for e in self.catalyst.tag_new("action"):
                e["pass"] = p
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            tr.query = None

    def end_pass(self, p: int, window: dict, extra: dict | None = None) -> None:
        take = self.reader.take()
        lo, hi = window["t0"], window["t1"]
        spans = [s for s in self.tracer.spans if s["t1"] is not None and lo <= s["t0"] and s["t1"] <= hi]
        batches = [b for b in self.progress.snapshot() if lo <= stats.progress_end_s(b) <= hi]
        phases = [e["phases"] for e in self.catalyst.events if e["tag"] == "action" and e.get("pass") == p]
        m = pass_metrics(spans, take, phases, batches, window)
        m.update(extra or {})
        by_query: dict[str, float] = {}
        for s in spans:
            if s["layer"] in ("queries", "action"):
                by_query[s["query"]] = by_query.get(s["query"], 0.0) + s["t1"] - s["t0"]
        for q, v in by_query.items():
            self.per_query.setdefault(q, []).append(v)
        by_id = {s["id"]: s for s in spans}
        self.passes.append({"pass": p, "metrics": m, "operators": _by_name(_outermost(spans, "operators", by_id))})

    def summary(self) -> dict:
        names = self.passes[0]["metrics"].keys() if self.passes else []
        metrics = {n: _p50([ps["metrics"][n] for ps in self.passes]) for n in names}
        op_names = sorted({n for ps in self.passes for n in ps["operators"]})
        return {
            "metrics": metrics,
            "queries": {f"q.{q}.s": _p50(v) for q, v in sorted(self.per_query.items())},
            "operators": {
                f"{n}.s": _p50([ps["operators"].get(n, 0.0) for ps in self.passes]) for n in op_names
            },
            "passes": self.passes,
            "catalyst_events": self.catalyst.events,
        }


def _by_name(spans: list[dict]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + s["t1"] - s["t0"]
    return out


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def jvm_live_heap_mb(spark, rounds: int = 4) -> list[float]:
    """Heap the JVM still holds after full collections: what the run
    retained (cached blocks, checkpoints, sink tables, state). One
    reading per collection; a pause between them lets Spark's
    ContextCleaner drop the blocks of RDDs the previous one freed."""
    import gc

    gc.collect()  # drop Python-held DataFrames so the JVM side becomes unreachable
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    out = []
    for _ in range(rounds):
        jvm.java.lang.System.gc()
        out.append(bean.getHeapMemoryUsage().getUsed() / 1048576)
        time.sleep(0.5)
    return out


def vm_hwm_mb(pid: int | None) -> float | None:
    """Peak resident set (``VmHWM``) of a process, in MB."""
    if pid is None:
        return None
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        return None
    return None
