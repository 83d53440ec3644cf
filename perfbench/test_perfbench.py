"""The benchmark's own tests, at a tiny scale.

    python3 -m pytest perfbench/test_perfbench.py -q

``test_every_metric_is_printed`` runs each workload end to end in a
subprocess (about a minute each), traced and untraced; the rest need no
Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.trace import Tracer, self_times  # noqa: E402

TINY = {"claims_scale": 0.001, "docs": 100}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_generator_is_deterministic_per_seed():
    def tables(seed):
        return gen.claims_tables(seed, TINY["claims_scale"]) | gen.corpus_tables(seed, 100, 40)

    a, b, c = tables(5), tables(5), tables(6)
    for name in a:
        pd.testing.assert_frame_equal(a[name], b[name], obj=name)
    assert any(not a[name].equals(c[name]) for name in a if len(a[name]) > 25)


def test_generated_shape_matches_source(tmp_path):
    report = gen.generate(str(tmp_path), 3, gen.SOURCE["claims_scale"], gen.SOURCE["docs"])
    assert report["ok"], {k: v for k, v in report["stats"].items() if not v["ok"]}


def test_span_self_times_sum_to_root():
    tracer = Tracer()
    with tracer.span("pass", "pass"):
        time.sleep(0.01)
        with tracer.span("a", "pipelines"):
            time.sleep(0.01)
            with tracer.span("b", "sinks"):
                time.sleep(0.02)
            with tracer.span("c", "plans"):
                time.sleep(0.01)
        with tracer.span("d", "query"):
            time.sleep(0.01)
    selfs = self_times(tracer.spans)
    root = tracer.spans[0]
    assert sum(selfs.values()) == pytest.approx(root["end"] - root["start"], abs=1e-9)
    assert all(v >= 0 for v in selfs.values())


def test_planted_wrong_output_counts_as_failed(tmp_path):
    from eligibility_etl_airflow_spark import registry
    from perfbench.workloads import Pass, check_query, count_failures
    from tests.oracle_utils import run_oracle

    registry.load_all()
    sf = str(tmp_path / "in")
    gen.generate(sf, 4, TINY["claims_scale"], TINY["docs"])
    name = "predictions_auto_reject"
    truth = run_oracle(registry.ORACLES[name], sf)
    assert len(truth) > 1

    def pass_with(frame: pd.DataFrame, out: str) -> Pass:
        p = Pass(sf, out)
        os.makedirs(os.path.join(out, "q"))
        pq.write_table(pa.Table.from_pandas(frame, preserve_index=False),
                       os.path.join(out, "q", name))
        p.op_s[name] = 1.0
        check_query(p, name)
        return p

    good = pass_with(truth, str(tmp_path / "good"))
    assert count_failures(good) == (2, 0)
    wrong = truth.copy()
    wrong.iloc[0, 0] = wrong.iloc[1, 0] if wrong.iloc[0, 0] != wrong.iloc[1, 0] else -1
    bad = pass_with(wrong, str(tmp_path / "bad"))
    assert name in bad.failed
    assert count_failures(bad) == (2, 1)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_every_metric_is_printed(workload, trace):
    spec = _spec()
    listed = spec["per_layer"] if trace else spec["end_to_end"]
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "from perfbench import gen, run\n"
        "gen.CLAIMS_SCALE, gen.N_DOCS = %r, %r\n"
        "sys.exit(run.main(['--workload', %r, '--seed', '11', '--seconds', '1',"
        " '--trace', '%d']))\n" % (ROOT, TINY["claims_scale"], TINY["docs"], workload, trace)
    )
    proc = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                          text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"], proc.stderr[-3000:]
    assert result["attempted"] >= 1 and result["failed"] == 0
    printed = result["metrics"]
    assert set(printed) == {m["name"] for m in listed}
    for m in listed:
        assert printed[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(printed[m["name"]]["value"], float), m["name"]
        if m["unit"] == "s":
            assert printed[m["name"]]["value"] > 0, m["name"]
    if trace:
        shares = [v["value"] for k, v in printed.items() if k.startswith("self.")]
        assert sum(shares) == pytest.approx(1.0, abs=1e-9)
