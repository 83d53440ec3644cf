"""Spans and Spark status-store readings for the traced run.

``Tracer.span`` records (name, layer, start, end, parent) in memory and,
when tracing is on, runs the span's body under its own Spark job group,
so the jobs a span launched are found afterwards with
``statusTracker().getJobIdsForGroup``. Streaming micro-batches run under
their query's run id instead; a ``StreamingQueryListener`` maps each run
id to the span that started the query and sums the progress reports.

Everything is read from the in-process status stores after the pass
(``spark.ui.enabled`` stays false). ``wrap_module`` replaces a module's
public functions with span-recording wrappers, from the benchmark's side,
so calls the program makes internally are attributed too.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import re
import time
import types

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0}


def parse_sql_metric(text: str) -> float:
    """Value of a formatted SQL metric ("total (min, med, max ...)\\n11.5 s
    (...)" or "1.2 KiB"), in bytes or seconds."""
    last = text.strip().splitlines()[-1]
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]+)?", last)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int | None, list[dict]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, edge = 0.0, s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], edge), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                edge = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


class Tracer:
    """In-memory span recorder; job groups only when ``enabled``."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.stream_runs: dict[str, int] = {}  # streaming run id -> span id
        self.stream_progress: list[dict] = []
        self._listener = None
        # layer -> (on_enter(span), on_exit(span)), run around the
        # outermost span of that layer; "*" runs at every span exit
        self.hooks: dict[str, tuple] = {}

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        parent = self.stack[-1] if self.stack else None
        s = {"id": len(self.spans), "parent": parent["id"] if parent else None,
             "name": name, "layer": layer, "start": time.perf_counter(),
             "end": None}
        hook = None
        if self.enabled and layer in self.hooks and all(a["layer"] != layer for a in self.stack):
            hook = self.hooks[layer]
            hook[0](s)
        self.spans.append(s)
        self.stack.append(s)
        if self.enabled:
            self.spark.sparkContext.setJobGroup(f"bench-span-{s['id']}", name, False)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self.stack.pop()
            if hook is not None:
                hook[1](s)
            if self.enabled and "*" in self.hooks:
                self.hooks["*"][1](s)
            if self.enabled:
                sc = self.spark.sparkContext
                if parent is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(f"bench-span-{parent['id']}", parent["name"], False)

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)
        traced.__wrapped_by_bench__ = fn
        return traced

    def wrap_module(self, module: types.ModuleType, layer: str) -> None:
        """Route ``module``'s public functions through spans of ``layer``."""
        for attr in dir(module):
            fn = getattr(module, attr)
            if (attr.startswith("_") or not inspect.isfunction(fn)
                    or fn.__module__ != module.__name__
                    or hasattr(fn, "__wrapped_by_bench__")):
                continue
            setattr(module, attr, self.wrap(fn, f"{layer}.{attr}", layer))

    def listen_streams(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                if tracer.stack:
                    tracer.stream_runs[str(event.runId)] = tracer.stack[-1]["id"]

            def onQueryProgress(self, event):
                tracer.stream_progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        self.spark.streams.addListener(self._listener)

    def close(self) -> None:
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    # -- reading the status stores ---------------------------------------

    def span_jobs(self) -> dict[int, list[int]]:
        """Job ids each span launched itself (not its children's)."""
        st = self.spark.sparkContext.statusTracker()
        jobs = {s["id"]: list(st.getJobIdsForGroup(f"bench-span-{s['id']}"))
                for s in self.spans}
        for run_id, sid in self.stream_runs.items():
            jobs[sid].extend(st.getJobIdsForGroup(run_id))
        return jobs


def stage_totals(spark, job_ids: list[int]) -> dict[str, float]:
    """Task metrics summed over the stages of ``job_ids`` (each stage once)."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    no_status = jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    stages = set()
    for j in job_ids:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    t = dict.fromkeys(("stages", "tasks", "failed_tasks", "task_s", "task_cpu_s",
                       "gc_s", "shuffle_write_b", "shuffle_read_b", "spill_b",
                       "input_b", "peak_exec_mem_b"), 0.0)
    for sid in stages:
        try:
            attempts = store.stageData(sid, False, no_status, False, no_quantiles)
        except Exception:  # noqa: BLE001 — a skipped stage has no data
            continue
        it = attempts.iterator()
        while it.hasNext():
            sd = it.next()
            if sd.numTasks() == 0 or str(sd.status()) == "SKIPPED":
                continue
            t["stages"] += 1
            t["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            t["failed_tasks"] += sd.numFailedTasks()
            t["task_s"] += sd.executorRunTime() / 1e3
            t["task_cpu_s"] += sd.executorCpuTime() / 1e9
            t["gc_s"] += sd.jvmGcTime() / 1e3
            t["shuffle_write_b"] += sd.shuffleWriteBytes()
            t["shuffle_read_b"] += sd.shuffleReadBytes()
            t["spill_b"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            t["input_b"] += sd.inputBytes()
            t["peak_exec_mem_b"] = max(t["peak_exec_mem_b"], sd.peakExecutionMemory())
    return t


_PY_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_start_s",
    "data sent to Python workers": "python_sent_b",
    "data returned from Python workers": "python_returned_b",
}


def python_sql_metrics(spark, job_ids: set[int]) -> dict[str, float]:
    """Python-worker SQL metrics summed over executions whose jobs are in
    ``job_ids``."""
    jvm = spark.sparkContext._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    store = spark._jsparkSession.sharedState().statusStore()
    out = dict.fromkeys(set(_PY_METRICS.values()), 0.0)
    it = store.executionsList().iterator()
    while it.hasNext():
        ex = it.next()
        jobs = {int(j) for j in conv.asJava(ex.jobs()).keySet()}
        if not jobs & job_ids:
            continue
        names = {}
        mi = ex.metrics().iterator()
        while mi.hasNext():
            m = mi.next()
            if m.name() in _PY_METRICS:
                names[m.accumulatorId()] = _PY_METRICS[m.name()]
        if not names:
            continue
        values = conv.asJava(store.executionMetrics(ex.executionId()))
        for acc, key in names.items():
            text = values.get(acc)
            if text is not None:
                out[key] += parse_sql_metric(text)
    return out


def cached_mb(spark) -> float:
    """Megabytes held by persisted RDDs (memory plus disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()
