"""The benchmark's own tests: one smoke pass per workload, proof that a
wrong result or a run cut short is counted as a failed operation, not as
a timing, and the order of traced and untraced steady passes.

    python3 -m pytest -q -p no:cacheprovider perfbench/test_perfbench.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from tracing import Tracer  # noqa: E402
from workloads import MIN_STEADY_PASSES, WARMUP_PASSES, WORKLOADS, PassRecord, Runner, Tally  # noqa: E402


def _run(args: list[str], code: str | None = None) -> tuple[dict, str]:
    """Run the benchmark command (or ``code``, which calls it) and return
    the parsed last line of its standard output and the whole output."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), *args]
    if code is not None:
        cmd = [sys.executable, "-c", code, *args]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600, cwd=ROOT)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1]), out.stdout


def test_changed_output_is_a_failure_not_a_sample():
    tally = Tally()
    assert tally.record(0, "q", 1.0, 10)
    assert not tally.record(1, "q", 0.5, 9)
    assert tally.record(2, "q", 0.7, 10)
    assert not tally.record(3, "q", 0.1, None, "boom")
    assert (tally.attempted, tally.failed) == (4, 2)
    assert [t for *_, t in tally.latencies] == [1.0, 0.7]


def _scripted_runner() -> Runner:
    """A query-mix runner whose passes take 1 s and do nothing."""
    runner = Runner(None, WORKLOADS["query_mix"], "", "", 1, Tracer(), None, None)

    def run_pass(traced):
        runner.passes.append(PassRecord(len(runner.passes), 0.0, 1.0, 0.0, 0.0, traced))
        return []

    runner.run_pass = run_pass
    runner.check = lambda results, oracle: None
    return runner


def test_run_cut_short_by_deadline_is_a_failure():
    runner = _scripted_runner()
    runner.run(seconds=8, smoke=False, trace=False, deadline=time.time() - 1)
    assert len(runner.passes) == 1
    assert runner.tally.failed == 1 and runner.tally.failures[0][1] == "steady passes"
    assert runner.steady() == []


def test_traced_steady_passes_do_not_always_run_first():
    runner = _scripted_runner()
    runner.run(seconds=0, smoke=False, trace=True, deadline=time.time() + 60)
    assert runner.passes[0].traced
    assert not any(p.traced for p in runner.passes[1:1 + WARMUP_PASSES])
    steady = [p.traced for p in runner.steady()]
    assert len(steady) == MIN_STEADY_PASSES
    assert steady[:4] == [True, False, False, True]
    assert runner.tally.failed == 0


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke(workload):
    for trace in ("0", "1"):
        res, _ = _run(["--workload", workload, "--seed", "5", "--smoke", "--trace", trace])
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
        # one pass has no untraced steady pass to compare the traced one with
        unmeasured = {k for k, m in res["metrics"].items() if m["value"] is None}
        assert unmeasured <= {"trace.overhead_s"}


def test_corrupted_row_count_is_reported_as_failed_operation():
    victim = "tpch_q3_shipping_priority"
    code = f"""
import sys
sys.path[:0] = [{HERE!r}, {ROOT!r}]
import __spark_entry__
from de_project_sprint_etl_spark.plans import registry
import run
real = registry.RAW_QUERIES[{victim!r}]
registry.RAW_QUERIES[{victim!r}] = lambda spark, d: real(spark, d).limit(1)
sys.exit(run.main(sys.argv[1:]))
"""
    res, out = _run(["--workload", "query_mix", "--seed", "5", "--smoke"], code)
    assert not res["correct"]
    assert (res["attempted"], res["failed"]) == (len(WORKLOADS["query_mix"].queries), 1)
    assert f"FAILED pass 0 {victim}" in out
    assert f"latency_samples={res['attempted'] - 1}" in out
