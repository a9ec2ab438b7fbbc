"""Smoke test of the benchmark at tiny size (a few minutes):

    python3 -m pytest perfbench/test_smoke.py -q

Checks that every metric BENCHMARK.json names is emitted, that the
correctness check fails on a wrong result, that an injected failure is
counted, and that the benchmark refuses to run without the program.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(workload, trace=0, fault=None, cwd=ROOT, seed=7, seconds=1):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds",
           str(seconds),
           "--trace", str(trace), "--tiny"]
    if fault:
        cmd += ["--fault", fault]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, json.loads(lines[-1]) if lines else None


def _record(workload, trace, seed=7):
    path = os.path.join(ROOT, ".bench_out", workload,
                        f"seed{seed}-trace{trace}.json")
    with open(path) as fh:
        return json.load(fh)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_every_named_metric_is_emitted(workload, trace):
    code, out = _run(workload, trace)
    assert code == 0 and out["correct"] and out["failed"] == 0
    names = [m["name"] for m in
             SPEC["end_to_end" if trace == 0 else "per_layer"]]
    assert sorted(out["metrics"]) == sorted(names)
    for name, m in out["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
    m = {k: v["value"] for k, v in out["metrics"].items()}
    if trace == 0:
        assert all(m[n] > 0 for n in names)
        return
    assert _record(workload, 1)["spark_phases"]["ranked"]["jobs"] > 0
    # serve never refreshes or compacts: its refresh walls are empty sums
    if workload == "serve":
        assert m["refresh.refresh_s"] == m["refresh.rewrite_s"] == 0
        assert m["refresh.compactions"] == m["refresh.delta_commits"] == 0
    else:
        assert m["refresh.refresh_s"] > 0 and m["refresh.delta_commits"] > 0


def test_wrong_result_fails_the_check():
    code, out = _run("serve", fault="wrong")
    assert code != 0 and out["correct"] is False
    assert "ranked" in _record("serve", 0)["mismatch"]


def test_injected_failure_counts_in_error_rate():
    # the first ranked call fails; later rounds still succeed
    code, out = _run("serve", fault="error")
    assert code == 0 and out["failed"] == 1
    rec = _record("serve", 0)
    assert rec["error_rate"] == pytest.approx(1 / rec["attempted"])


def test_refuses_to_run_without_the_program():
    bare = os.path.join(ROOT, ".bench_out", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, out = _run("serve", cwd=bare)
    assert code != 0 and out is None
