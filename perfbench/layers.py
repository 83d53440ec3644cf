"""Per-layer metrics of the traced run.

``install`` wraps, from the benchmark's side, the public functions of the
layers a pass goes through:

- every registered query builder (``plans``),
- ``sources.sinks`` (``sinks``) and ``streaming.ops`` (``streaming``),
- the transports handed to ``operators.external`` by the prediction
  plans, counted with Spark accumulators because they run in the Python
  workers (``operators.external``).

``Probe.metrics`` then turns the spans and the status stores into the
metrics named in ``PER_LAYER``. Values are per pass (the mean when a run
makes more than one).
"""

from __future__ import annotations

import os

from eligibility_etl_airflow_spark import registry
from eligibility_etl_airflow_spark.plans import predictions
from eligibility_etl_airflow_spark.sources import sinks
from eligibility_etl_airflow_spark.streaming import ops as streaming_ops

from perfbench.trace import (
    cached_mb,
    persisted_rdds,
    python_sql_metrics,
    self_times,
    stage_totals,
)

PIPELINE_FNS = (
    "run_eligibility_pipeline", "run_predictions_pipeline",
    "run_resubmission_pipeline", "run_events_stream_pipeline",
    "run_corpus_curation_pipeline", "run_training_prep_pipeline",
)
SPAN_LAYERS = ("pass", "pipelines", "query", "plans", "spark.plan", "spark",
               "sinks", "streaming")

# name -> unit, in the order BENCHMARK.json lists them. A layer that a
# workload does not run reads 0 there, so its times are given as shares
# of the pass (ratios); every metric in seconds is non-zero on both.
PER_LAYER = {
    "session.get_spark_s": "s", "registry.load_all_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count",
    "spark.plan_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.busy_ratio": "ratio",
    "spark.task_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.failed_tasks": "count",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB", "spark.input_mb": "MB", "spark.peak_exec_mem_mb": "MB",
    "spark.cache_peak_mb": "MB", "spark.cache_leaked_rdds": "count",
    "operators.python_run_s": "s", "operators.python_start_s": "s",
    "operators.python_sent_mb": "MB", "operators.python_returned_mb": "MB",
    "operators.external.calls": "count", "operators.external.error_rows": "count",
    "sinks.s": "s", "sinks.rows": "count", "sinks.files": "count",
    "sinks.mb": "MB", "sinks.write_amp": "ratio",
    "streaming.batches": "count", "streaming.input_rows": "count",
    "streaming.trigger_share": "ratio", "streaming.plan_share": "ratio",
    "streaming.commit_share": "ratio", "streaming.state_rows": "count",
    **{f"pipelines.{fn}_{k}": u for fn in PIPELINE_FNS
       for k, u in (("share", "ratio"), ("jobs", "count"))},
    **{f"self.{layer}_share": "ratio" for layer in SPAN_LAYERS},
    "trace.wall_s": "s",
    "memory.peak_rss_mb": "MB",
}
_MB = 2**20


def _listing(root: str) -> dict[str, tuple]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith((".", "_")):
                continue
            path = os.path.join(dirpath, f)
            try:
                st = os.stat(path)
            except OSError:
                continue
            out[path] = (st.st_ino, st.st_size, st.st_mtime_ns)
    return out


def _rows(path: str) -> int:
    if path.endswith(".parquet"):
        import pyarrow.parquet as pq
        return pq.read_metadata(path).num_rows
    if path.endswith(".csv"):
        with open(path, "rb") as fh:
            return max(0, sum(1 for _ in fh) - 1)  # header line
    return 0


class Probe:
    def __init__(self, tracer, spark):
        self.tracer = tracer
        self.spark = spark
        self.pass_ = None
        self.calls = spark.sparkContext.accumulator(0)
        self.errors = spark.sparkContext.accumulator(0)
        self.cache_peak_mb = 0.0
        self.leaked = 0
        self.sink = {"rows": 0, "files": 0, "bytes": 0}
        self.sink_targets: set[str] = set()
        self._before: dict[str, tuple] = {}
        self._rdds_before = 0

    def begin_pass(self, p) -> None:
        self.pass_ = p

    # hooks -----------------------------------------------------------------

    def sink_enter(self, _span) -> None:
        self._before = _listing(self.pass_.out_dir)

    def sink_exit(self, _span) -> None:
        after = _listing(self.pass_.out_dir)
        for path, ident in after.items():
            if self._before.get(path) != ident:
                self.sink["files"] += 1
                self.sink["bytes"] += ident[1]
                self.sink["rows"] += _rows(path)
                rel = os.path.relpath(path, self.pass_.out_dir)
                self.sink_targets.add(rel.split(os.sep)[0])

    def op_enter(self, _span) -> None:
        self._rdds_before = persisted_rdds(self.spark)

    def op_exit(self, _span) -> None:
        self.leaked += max(0, persisted_rdds(self.spark) - self._rdds_before)

    def any_exit(self, _span) -> None:
        self.cache_peak_mb = max(self.cache_peak_mb, cached_mb(self.spark))

    # metrics ---------------------------------------------------------------

    def metrics(self, passes, session_s: float, load_s: float, peak_rss_mb: float) -> dict:
        tracer, spark = self.tracer, self.spark
        n = len(passes)
        spans = tracer.spans
        by_id = {s["id"]: s for s in spans}
        own_jobs = tracer.span_jobs()

        def subtree_jobs(root_id: int) -> set[int]:
            out = set(own_jobs.get(root_id, ()))
            for s in spans:
                a = s
                while a["parent"] is not None and a["parent"] != root_id:
                    a = by_id[a["parent"]]
                if a["parent"] == root_id:
                    out.update(own_jobs.get(s["id"], ()))
            return out

        def outermost(layer: str) -> list[dict]:
            res = []
            for s in spans:
                a, nested = s, False
                while a["parent"] is not None:
                    a = by_id[a["parent"]]
                    if a["layer"] == layer:
                        nested = True
                        break
                if s["layer"] == layer and not nested:
                    res.append(s)
            return res

        def dur(ss) -> float:
            return sum(s["end"] - s["start"] for s in ss)

        all_jobs = set().union(*own_jobs.values()) if own_jobs else set()
        t = stage_totals(spark, sorted(all_jobs))
        py = python_sql_metrics(spark, all_jobs)
        wall = sum(p.wall_s for p in passes)
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "1"))
        plans = outermost("plans")
        prog = tracer.stream_progress
        trigger_ms = _ms(prog, "triggerExecution")
        # the pass spans are the roots: every span's self time lies in one
        total = dur(s for s in spans if s["parent"] is None)
        final_bytes = 0
        for p in passes:
            for target in self.sink_targets:
                final_bytes += sum(v[1] for v in _listing(os.path.join(p.out_dir, target)).values())
        m = {
            "session.get_spark_s": session_s,
            "registry.load_all_s": load_s,
            "plans.build_s": dur(plans) / n,
            "plans.build_jobs": len(set().union(set(), *(subtree_jobs(s["id"]) for s in plans))) / n,
            "spark.plan_s": dur(outermost("spark.plan")) / n,
            "spark.jobs": len(all_jobs) / n,
            "spark.stages": t["stages"] / n,
            "spark.tasks": t["tasks"] / n,
            "spark.busy_ratio": t["task_s"] / (wall * cores) if wall else 0.0,
            "spark.task_s": t["task_s"] / n,
            "spark.task_cpu_s": t["task_cpu_s"] / n,
            "spark.gc_s": t["gc_s"] / n,
            "spark.failed_tasks": t["failed_tasks"] / n,
            "spark.shuffle_write_mb": t["shuffle_write_b"] / _MB / n,
            "spark.shuffle_read_mb": t["shuffle_read_b"] / _MB / n,
            "spark.spill_mb": t["spill_b"] / _MB / n,
            "spark.input_mb": t["input_b"] / _MB / n,
            "spark.peak_exec_mem_mb": t["peak_exec_mem_b"] / _MB,
            "spark.cache_peak_mb": self.cache_peak_mb,
            "spark.cache_leaked_rdds": self.leaked / n,
            "operators.python_run_s": py["python_run_s"] / n,
            "operators.python_start_s": py["python_start_s"] / n,
            "operators.python_sent_mb": py["python_sent_b"] / _MB / n,
            "operators.python_returned_mb": py["python_returned_b"] / _MB / n,
            "operators.external.calls": self.calls.value / n,
            "operators.external.error_rows": self.errors.value / n,
            "sinks.s": dur(outermost("sinks")) / n,
            "sinks.rows": self.sink["rows"] / n,
            "sinks.files": self.sink["files"] / n,
            "sinks.mb": self.sink["bytes"] / _MB / n,
            "sinks.write_amp": self.sink["bytes"] / final_bytes if final_bytes else 0.0,
            "streaming.batches": len(prog) / n,
            "streaming.input_rows": sum(q.get("numInputRows", 0) for q in prog) / n,
            "streaming.trigger_share": trigger_ms / 1e3 / total,
            "streaming.plan_share": _ms(prog, "queryPlanning") / trigger_ms if trigger_ms else 0.0,
            "streaming.commit_share": (_ms(prog, "commitOffsets") + _ms(prog, "walCommit"))
            / trigger_ms if trigger_ms else 0.0,
            "streaming.state_rows": max((so.get("numRowsTotal", 0) for q in prog
                                         for so in q.get("stateOperators", [])), default=0),
        }
        for fn in PIPELINE_FNS:
            calls = [s for s in spans if s["layer"] == "pipelines"
                     and s["name"].split(".")[0] == fn]
            m[f"pipelines.{fn}_share"] = dur(calls) / total
            m[f"pipelines.{fn}_jobs"] = sum(len(subtree_jobs(s["id"])) for s in calls) / n
        selfs = self_times(spans)
        for layer in SPAN_LAYERS:
            m[f"self.{layer}_share"] = sum(v for sid, v in selfs.items()
                                           if by_id[sid]["layer"] == layer) / total
        m["trace.wall_s"] = wall / n
        m["memory.peak_rss_mb"] = peak_rss_mb
        return {k: (float(m[k]), PER_LAYER[k]) for k in PER_LAYER}


def _ms(progress: list[dict], phase: str) -> float:
    """Milliseconds spent in one trigger phase over all progress reports."""
    return sum(q["durationMs"].get(phase, 0) for q in progress)


def _counted(call, calls, errors):
    """``call`` counting its invocations and raised errors into two
    accumulators (it runs in the Python workers)."""
    def counted_call(*args, **kwargs):
        calls.add(1)
        try:
            return call(*args, **kwargs)
        except Exception:
            errors.add(1)
            raise
    return counted_call


def install(tracer, spark) -> Probe:
    """Wrap the layers' public functions and attach the probe's hooks."""
    probe = Probe(tracer, spark)
    for name, fn in list(registry.QUERIES.items()):
        registry.QUERIES[name] = tracer.wrap(fn, f"plans.{name}", "plans")
    tracer.wrap_module(sinks, "sinks")
    tracer.wrap_module(streaming_ops, "streaming")
    tracer.listen_streams()

    real_llm, real_rest = predictions.llm_per_group, predictions.rest_enrich

    calls, errors = probe.calls, probe.errors

    def llm_per_group(df, group_col, respond, *args, **kwargs):
        return real_llm(df, group_col, _counted(respond, calls, errors), *args, **kwargs)

    def rest_enrich(df, transport_factory, *args, **kwargs):
        return real_rest(df, lambda: _counted(transport_factory(), calls, errors),
                         *args, **kwargs)

    predictions.llm_per_group = llm_per_group
    predictions.rest_enrich = rest_enrich
    tracer.hooks["sinks"] = (probe.sink_enter, probe.sink_exit)
    tracer.hooks["query"] = (probe.op_enter, probe.op_exit)
    tracer.hooks["pipelines"] = (probe.op_enter, probe.op_exit)
    tracer.hooks["*"] = (None, probe.any_exit)
    return probe
