"""The benchmark's workloads: one pass each, plus the checks of its outputs.

A pass is a fixed list of operations run back to back in one Spark
session. Each operation is timed on its own; the pass's ``wall_s`` is the
sum, so untimed bookkeeping between operations (sink snapshots) stays
out of it. Every pass starts cold: ``spark.catalog.clearCache()`` and
``registry.reset_memos()`` run at the pass boundary.

Outputs are checked after the pass, outside the timed region:

- a registered query with a DuckDB oracle must match it under the
  row/column/value contract of ``tests/oracle_utils.py``; one without an
  oracle must return rows;
- pipeline sinks are checked by invariants (see ``check_claims_etl`` and
  ``check_corpus_ops``).

A failed or wrong operation is recorded in ``Pass.failed``; it never
stops the pass.
"""

from __future__ import annotations

import datetime
import functools
import hashlib
import json
import os
import shutil
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from eligibility_etl_airflow_spark import pipelines, registry
from tests.oracle_utils import assert_parity, run_oracle

from perfbench.trace import Tracer

CLAIMS_LIFECYCLES = (
    pipelines.run_eligibility_pipeline,
    pipelines.run_predictions_pipeline,
    pipelines.run_resubmission_pipeline,
    pipelines.run_events_stream_pipeline,
)
CLAIMS_REPORTS = ("llm_cost_metrics", "predictions_auto_reject", "rest_enrichment_pipeline")
CORPUS_SINKS = {
    "curated_docs": ("run_corpus_curation_pipeline", None),
    "packed_chunks": ("run_training_prep_pipeline", None),
}
# one trainer, one pair family and one graph loop of the job-heavy operators
CORPUS_OPERATORS = ("quality_classifier_scores", "dedup_minhash_lsh", "domain_pagerank")


@dataclass
class Pass:
    sf_dir: str
    out_dir: str
    op_s: dict[str, float] = field(default_factory=dict)
    results: dict[str, object] = field(default_factory=dict)
    failed: dict[str, str] = field(default_factory=dict)
    rerun_s: float = 0.0

    @property
    def wall_s(self) -> float:
        return sum(self.op_s.values())

    def fail(self, op: str, why: str) -> None:
        self.failed.setdefault(op, why)


class Runner:
    """Runs the operations of one pass under spans of ``tracer``."""

    def __init__(self, spark, tracer: Tracer):
        self.spark = spark
        self.tracer = tracer

    def op(self, p: Pass, name: str, layer: str, fn, *args, **kwargs):
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, layer):
                result = fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 — a failed op is counted, the pass goes on
            p.fail(name, traceback.format_exc(limit=3))
            result = None
        p.op_s[name] = time.perf_counter() - t0
        p.results[name] = result
        return result

    def pipeline(self, p: Pass, fn, tag: str = "", **kwargs):
        name = f"{fn.__name__}{tag}"
        return self.op(p, name, "pipelines", fn, self.spark, p.sf_dir, p.out_dir, **kwargs)

    def query(self, p: Pass, name: str) -> None:
        """Builder call, forced physical planning, then a parquet write
        of the result (read back by the checks)."""
        def run():
            df = registry.QUERIES[name](self.spark, p.sf_dir)
            with self.tracer.span("spark.plan", "spark.plan"):
                df._jdf.queryExecution().executedPlan()
            with self.tracer.span("spark.write", "spark"):
                df.write.mode("overwrite").parquet(os.path.join(p.out_dir, "q", name))
        self.op(p, name, "query", run)


def cold_boundary(spark) -> None:
    spark.catalog.clearCache()
    registry.reset_memos()


@functools.lru_cache(maxsize=None)
def _oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    return run_oracle(sql, sf_dir)


def oracle(query: str, sf_dir: str) -> pd.DataFrame:
    """The DuckDB oracle's result for ``query``, computed once per input
    directory (every pass of a cycle reads the same inputs)."""
    return _oracle(registry.ORACLES[query], sf_dir).copy()


def _read(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


def _row_hashes(df: pd.DataFrame) -> np.ndarray:
    """One 64-bit hash per row, insensitive to column order, numeric
    width, float noise below 1e-6 and timestamp precision (the value
    contract of ``tests/oracle_utils.normalize``)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_numeric_dtype(s):
            df[c] = s.astype("float64").round(6)
        else:
            non_null = s.dropna()
            if len(non_null) and all(isinstance(v, datetime.date)
                                     and not isinstance(v, datetime.datetime)
                                     for v in non_null.head(100)):
                df[c] = pd.to_datetime(s).astype("datetime64[us]")
            else:
                df[c] = s.astype(object).where(s.notna(), "<null>").astype(str)
    return pd.util.hash_pandas_object(df, index=False).to_numpy()


def _frame_digest(df: pd.DataFrame) -> str:
    """Order-insensitive digest of a frame's rows."""
    return hashlib.sha256(np.sort(_row_hashes(df)).tobytes()).hexdigest()


def _sink_digests(out_dir: str, sinks: dict) -> dict[str, str]:
    digests = {}
    for sink, (_owner, cols) in sinks.items():
        df = _read(os.path.join(out_dir, sink))
        digests[sink] = _frame_digest(df if cols is None else df[cols])
    return digests


def _snapshot_sinks(p: Pass, sinks: dict) -> None:
    """Digest the first run's sinks (untimed) before the re-run."""
    try:
        p.results["_digests_before_rerun"] = _sink_digests(p.out_dir, sinks)
    except Exception:  # noqa: BLE001
        owner = next(iter(sinks.values()))[0]
        p.fail(f"{owner}.rerun", "a first-run sink is unreadable:\n"
               + traceback.format_exc(limit=3))


def _check_sinks_unchanged(p: Pass, sinks: dict) -> None:
    before = p.results.get("_digests_before_rerun")
    if before is None:
        return
    after = _sink_digests(p.out_dir, sinks)
    for sink, digest in before.items():
        if after[sink] != digest:
            p.fail(f"{sinks[sink][0]}.rerun", f"sink {sink} changed on re-run")


# -- claims_etl --------------------------------------------------------------

# sink -> (the pipeline writing it, the columns a re-run must leave
# unchanged; None: every column). The resubmission MERGE keeps the latest
# row per service_id; when two rows tie on request_date, which one wins
# is not fixed by the program (sinks.keep_last orders by request_date
# alone), so a re-run may swap the tied row. Only the tie-independent
# part is compared there.
CLAIMS_SINKS = {
    "eligibility": ("run_eligibility_pipeline", None),
    "predictions": ("run_predictions_pipeline", None),
    "resubmission": ("run_resubmission_pipeline", ["service_id", "request_date"]),
    "events_clean": ("run_events_stream_pipeline", None),
}


def run_claims_etl(runner: Runner, p: Pass) -> None:
    """The four claims lifecycles into an empty out dir, the same four
    again into the populated dir (the idempotent overlap re-run), then
    the prediction reports."""
    for fn in CLAIMS_LIFECYCLES:
        runner.pipeline(p, fn)
    _snapshot_sinks(p, CLAIMS_SINKS)
    t0 = sum(p.op_s.values())
    for fn in CLAIMS_LIFECYCLES:
        runner.pipeline(p, fn, tag=".rerun")
    p.rerun_s = sum(p.op_s.values()) - t0
    for name in CLAIMS_REPORTS:
        runner.query(p, name)


def check_claims_etl(p: Pass) -> None:
    out = p.out_dir
    # the re-run appends nothing and leaves the sinks as they were
    for fn in CLAIMS_LIFECYCLES:
        res = p.results.get(f"{fn.__name__}.rerun") or {}
        if res.get("rows_appended", 0) != 0:
            p.fail(f"{fn.__name__}.rerun", f"re-run appended {res['rows_appended']} rows")
    _check_sinks_unchanged(p, CLAIMS_SINKS)
    # each sink holds exactly the oracle's keys, one valid oracle row each
    _check_keyed_sink(p, "run_eligibility_pipeline", "eligibility",
                      "eligibility_flagship", "order_id")
    _check_keyed_sink(p, "run_predictions_pipeline", "predictions",
                      "llm_predictions_pipeline", "service_uid")
    _check_keyed_sink(p, "run_resubmission_pipeline", "resubmission",
                      "resubmission_flagship", "service_id", latest="request_date")
    # the events sink holds each distinct event id once
    try:
        ids = _read(os.path.join(out, "events_clean"))["event_id"]
        src = _read(os.path.join(p.sf_dir, "events.parquet"))["event_id"]
        if ids.duplicated().any() or set(ids) != set(src):
            p.fail("run_events_stream_pipeline", "events sink != distinct event ids")
    except Exception:  # noqa: BLE001
        p.fail("run_events_stream_pipeline", traceback.format_exc(limit=3))
    for name in CLAIMS_REPORTS:
        check_query(p, name)


def _check_keyed_sink(p: Pass, op: str, sink: str, query: str, key: str,
                      latest: str | None = None) -> None:
    """The sink equals the query's oracle after dedup on ``key``: the same
    key set, unique keys, and every sink row one of the oracle's rows for
    that key (the latest by ``latest`` when given)."""
    try:
        want = oracle(query, p.sf_dir)
        got = _read(os.path.join(p.out_dir, sink))[list(want.columns)]
        if got[key].duplicated().any():
            p.fail(op, f"{sink} sink has duplicate {key}")
        elif set(got[key]) != set(want[key]):
            p.fail(op, f"{sink} sink keys != {query} oracle keys "
                       f"({got[key].nunique()} vs {want[key].nunique()})")
        else:
            if latest is not None:
                want = want[want[latest] == want.groupby(key)[latest].transform("max")]
            bad = int((~np.isin(_row_hashes(got), _row_hashes(want))).sum())
            if bad:
                p.fail(op, f"{bad} {sink} sink rows are not {query} oracle rows")
    except Exception:  # noqa: BLE001
        p.fail(op, traceback.format_exc(limit=3))


# -- corpus_ops --------------------------------------------------------------

def run_corpus_ops(runner: Runner, p: Pass) -> None:
    """Job-heavy corpus operators, then curation -> training-prep on the
    curated docs, then both again into the same out dir (the re-run)."""
    for name in CORPUS_OPERATORS:
        runner.query(p, name)
    curated = os.path.join(p.out_dir, "curated_docs")

    def prep(spark, sf_dir, out_dir):
        return pipelines.run_training_prep_pipeline(
            spark, sf_dir, out_dir, documents=spark.read.parquet(curated))
    prep.__name__ = "run_training_prep_pipeline"
    runner.pipeline(p, pipelines.run_corpus_curation_pipeline)
    runner.pipeline(p, prep)
    _snapshot_sinks(p, CORPUS_SINKS)
    t0 = sum(p.op_s.values())
    runner.pipeline(p, pipelines.run_corpus_curation_pipeline, tag=".rerun")
    runner.pipeline(p, prep, tag=".rerun")
    p.rerun_s = sum(p.op_s.values()) - t0


def check_corpus_ops(p: Pass) -> None:
    for name in CORPUS_OPERATORS:
        check_query(p, name)
    op = "run_corpus_curation_pipeline"
    st = p.results.get(op)
    if st:
        funnel = [st["n_total"], st["n_after_quality_lang"],
                  st["n_after_exact_dedup"], st["n_curated"]]
        if any(b > a for a, b in zip(funnel, funnel[1:])) or funnel[-1] <= 0:
            p.fail(op, f"curation funnel grows or is empty: {funnel}")
        try:
            curated = _read(os.path.join(p.out_dir, "curated_docs"))
            hashes = curated["text"].map(lambda t: hashlib.sha256(t.encode()).digest())
            if hashes.duplicated().any() or len(curated) != st["n_curated"]:
                p.fail(op, "curated docs are not unique by content hash")
        except Exception:  # noqa: BLE001
            p.fail(op, traceback.format_exc(limit=3))
    # the re-run returns the same counts and leaves the sinks as they were
    for fn in ("run_corpus_curation_pipeline", "run_training_prep_pipeline"):
        first, again = p.results.get(fn), p.results.get(f"{fn}.rerun")
        if first and again != first:
            p.fail(f"{fn}.rerun", f"re-run stats {again} != {first}")
    _check_sinks_unchanged(p, CORPUS_SINKS)
    prep = p.results.get("run_training_prep_pipeline")
    if prep and prep["n_docs"] != (st or {}).get("n_curated"):
        p.fail("run_training_prep_pipeline", "prep read a different doc count than curation wrote")


def check_query(p: Pass, name: str) -> None:
    if name in p.failed:
        return
    try:
        got = _read(os.path.join(p.out_dir, "q", name))
        if name in registry.ORACLES:
            assert_parity(got, oracle(name, p.sf_dir), name)
        elif len(got) == 0:
            p.fail(name, "no rows")
    except AssertionError as e:
        p.fail(name, f"oracle mismatch: {str(e)[:300]}")
    except Exception:  # noqa: BLE001
        p.fail(name, traceback.format_exc(limit=3))


def pass_counts(p: Pass) -> str:
    """The pipelines' funnel, pack and sink counts of a pass, as canonical
    JSON; they must repeat in every pass over the same seed."""
    return json.dumps({k: v for k, v in p.results.items()
                       if not k.startswith("_") and isinstance(v, dict)},
                      sort_keys=True, default=str)


def count_failures(p: Pass) -> tuple[int, int]:
    """(operations attempted, operations failed or wrong) in a pass's
    cycle: its set-up counts as one operation, each of its ops as one."""
    return 1 + len(p.op_s), len(p.failed)


WORKLOADS = {
    "claims_etl": (run_claims_etl, check_claims_etl),
    "corpus_ops": (run_corpus_ops, check_corpus_ops),
}


def fresh_out_dir(root: str, i: int) -> str:
    path = os.path.join(root, f"pass{i}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
