"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload claims_etl --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed under ``.perfbench_work/`` (nothing outside the checkout is read or
written), then runs cycles until ``--seconds`` have been spent (at least
one). A cycle is a fresh process that sets the engine up, runs a warm-up
pass and then the measured pass of the workload (each starting from
cleared caches), stops the engine and checks every output; each reported
time is the median over the cycles. The run prints, as the last
line of standard output::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same cycles under spans and reports the per-layer metrics instead.
Progress and check failures go to standard error.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402

# the keys of workloads.WORKLOADS, named here because that module imports
# the engine, which must not happen before set-up starts
WORKLOAD_NAMES = ("claims_etl", "corpus_ops")


def session_conf(work: str) -> dict[str, str]:
    """Settings the benchmark passes through get_spark(extra_conf=...): no
    console progress bars, and Spark's scratch space inside the checkout."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc. Each process counts
    its proportional share (Pss) of pages it shares with others, so the
    copy-on-write workers forked from one daemon are not counted once
    per worker."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_b = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier.extend(kids)
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak_b = max(self.peak_b, self._tree_rss())

    def __enter__(self):
        self.peak_b = self._tree_rss()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_b = max(self.peak_b, self._tree_rss())


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def write_spans(tracer, args, per_layer: dict) -> None:
    """Write the cycle's spans (kept in memory until now) and its
    per-layer metrics to .perfbench_work/traces/."""
    out = os.path.join(ROOT, ".perfbench_work", "traces")
    os.makedirs(out, exist_ok=True)
    t0 = tracer.spans[0]["start"] if tracer.spans else 0.0
    spans = [{**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in tracer.spans]
    path = os.path.join(out, f"{args.workload}-seed{args.seed}-cycle{args.cycle}.json")
    with open(path, "w") as fh:
        json.dump({"spans": spans, "metrics": per_layer}, fh, default=str)
    log(f"spans written to {path}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: run one cycle over the inputs in WORK (see cycle())
    ap.add_argument("--cycle", type=int, help=argparse.SUPPRESS)
    ap.add_argument("--work", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    # the benchmark measures the repository's engine; refuse to run
    # without it rather than report numbers for nothing
    if not os.path.isdir(os.path.join(ROOT, "eligibility_etl_airflow_spark")):
        log(f"engine package not found under {ROOT}")
        return 2
    if args.cycle is not None:
        print(json.dumps(cycle(args), default=str), flush=True)
        return 0

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "inputs"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM started (spark-submit's launcher and the driver) keeps its
    # temp files in the checkout and writes no perf-data file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return 1
    print(json.dumps(result), flush=True)
    return 0


def run(args, work: str) -> dict | None:
    """Generate the inputs, then run cycles in fresh processes until
    --seconds have been spent (at least one), and aggregate them."""
    t_start = time.perf_counter()
    shape = gen.generate(os.path.join(work, "inputs"), args.seed, gen.CLAIMS_SCALE, gen.N_DOCS)
    if not shape["ok"]:
        drift = {k: v for k, v in shape["stats"].items() if not v["ok"]}
        log(f"generated inputs drift from the source shape: {drift}")

    cycles: list[dict] = []
    attempted, failed = 1, int(not shape["ok"])
    t_measure = time.perf_counter()
    # another cycle only if it should still end within --seconds
    while not cycles or (time.perf_counter() - t_measure
                         + cycles[-1]["elapsed_s"] <= args.seconds):
        t0 = time.perf_counter()
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--cycle", str(len(cycles)), "--work", work]
        # the child stops its JVM before it exits. The whole run must end
        # within 180 s: past 170 s the child is killed, and its JVM exits
        # when its standard input closes.
        try:
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                                  timeout=max(1.0, 170 - (time.perf_counter() - t_start)))
        except subprocess.TimeoutExpired:
            proc = None
        if proc is None or proc.returncode != 0:
            log(f"cycle {len(cycles)} failed: "
                + ("timed out" if proc is None else f"exit code {proc.returncode}"))
            attempted, failed = attempted + 1, failed + 1
            break
        c = json.loads(proc.stdout.strip().splitlines()[-1])
        c["elapsed_s"] = time.perf_counter() - t0
        cycles.append(c)
        attempted, failed = attempted + c["attempted"], failed + c["failed"]
    if not cycles:
        return None
    # funnel, pack and sink counts of one seed repeat in every cycle
    failed += sum(c["counts"] != cycles[0]["counts"] for c in cycles[1:])

    def median(key: str) -> float:
        return statistics.median(c[key] for c in cycles)
    if args.trace:
        metrics = {k: (statistics.median(c["per_layer"][k][0] for c in cycles), u)
                   for k, (_v, u) in cycles[0]["per_layer"].items()}
    else:
        metrics = {"setup_s": (median("setup_s"), "s"), "wall_s": (median("wall_s"), "s"),
                   "rerun_s": (median("rerun_s"), "s")}
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": min(failed, attempted),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def cycle(args) -> dict:
    """One cycle, in this fresh process: set-up, a warm-up pass, the
    measured pass, the checks of both passes' outputs (outside the timed
    region)."""
    work = args.work
    sf_dir = os.path.join(work, "inputs")
    # set-up: engine import, registry, session, one flagship noop write
    t0 = time.perf_counter()
    from eligibility_etl_airflow_spark import registry
    from eligibility_etl_airflow_spark.session import get_spark
    t_load = time.perf_counter()
    registry.load_all()
    load_s = time.perf_counter() - t_load
    t_sess = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=session_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t_sess
    registry.QUERIES["eligibility_flagship"](spark, sf_dir).write.mode(
        "overwrite").format("noop").save()
    setup_s = time.perf_counter() - t0
    log(f"cycle {args.cycle}: set-up {setup_s:.2f} s (session {session_s:.2f} s)")

    from perfbench import layers
    from perfbench.trace import Tracer
    from perfbench.workloads import (
        WORKLOADS, Pass, Runner, cold_boundary, count_failures, fresh_out_dir, pass_counts,
    )

    run_pass, check = WORKLOADS[args.workload]
    # the warm-up pass: the same operations, untraced and untimed, so the
    # measured pass runs on a JVM whose hot code is already compiled
    warm = Pass(sf_dir, fresh_out_dir(work, f"{args.cycle}-warmup"))
    tracer = Tracer(spark)
    probe = None
    try:
        cold_boundary(spark)
        run_pass(Runner(spark, tracer), warm)
        log(f"cycle {args.cycle}: warm-up pass {warm.wall_s:.2f} s")
        tracer = Tracer(spark, enabled=bool(args.trace))
        probe = layers.install(tracer, spark) if args.trace else None
        p = Pass(sf_dir, fresh_out_dir(work, args.cycle))
        cold_boundary(spark)
        if probe is not None:
            probe.begin_pass(p)
        # memory is sampled on traced runs only, to keep the sampler out
        # of the gated wall times
        with (RssSampler() if args.trace else contextlib.nullcontext()) as sampler, \
                tracer.span("pass", "pass"):
            run_pass(Runner(spark, tracer), p)
        log(f"cycle {args.cycle}: pass {p.wall_s:.2f} s, ops "
            + ", ".join(f"{k}={v:.2f}" for k, v in p.op_s.items()))
        per_layer = (probe.metrics([p], session_s, load_s, sampler.peak_b / 2**20)
                     if probe is not None else None)
    finally:
        tracer.close()
        t_stop = time.perf_counter()
        stop_spark(spark)
        log(f"cycle {args.cycle}: shutdown {time.perf_counter() - t_stop:.2f} s")

    t_check = time.perf_counter()
    check(warm)
    check(p)
    log(f"cycle {args.cycle}: checks {time.perf_counter() - t_check:.2f} s")
    # both passes of a cycle return the same funnel, pack and sink counts
    if pass_counts(warm) != pass_counts(p):
        p.fail("counts", "the measured pass's counts differ from the warm-up pass's")
    for q, label in ((warm, "warm-up"), (p, "pass")):
        for op, why in q.failed.items():
            log(f"FAILED cycle {args.cycle} {label} {op}: {why.strip()}")
    if args.trace:
        write_spans(tracer, args, per_layer)
    attempted, failed = count_failures(p)
    return {"setup_s": setup_s, "wall_s": p.wall_s, "rerun_s": p.rerun_s,
            "attempted": attempted + len(warm.op_s), "failed": failed + len(warm.failed),
            "counts": pass_counts(p), "per_layer": per_layer}

if __name__ == "__main__":
    sys.exit(main())
