"""Self-test of the benchmark at its smallest inputs (sf0.001 slots, a
2-wave store of 50 documents).

    python3 -m pytest perfbench/test_perfbench.py -p no:cacheprovider

Each case runs the benchmark's command line in a subprocess and checks
its result line and trace file. About four minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPAN_LAYERS = {"run", "setup", "pass", "unit", "build", "action", "job", "stage", "check"}
MODULE_LAYERS = {"session", "queries", "catalyst", "exec", "sqlop", "caching", "jvm",
                 "streaming", "maintenance", "sources", "self", "trace"}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    detail = json.loads([ln for ln in proc.stderr.splitlines() if ln.startswith("{")][-1])
    return result, detail


def _check_metrics(result: dict, expected: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    metrics = result["metrics"]
    for m in expected:
        assert m["name"] in metrics, m["name"]
        assert metrics[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(metrics[m["name"]]["value"], (int, float))


@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_end_to_end_metrics(workload):
    result, detail = _run(workload, 0)
    _check_metrics(result, _spec()["end_to_end"])
    assert all(result["metrics"][m["name"]]["value"] > 0 for m in _spec()["end_to_end"])
    assert detail["host.cpu_probe_before_s"] > 0 and detail["host.cpu_probe_after_s"] > 0


@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_traced_run(workload):
    result, detail = _run(workload, 1)
    _check_metrics(result, _spec()["per_layer"])
    with open(os.path.join(ROOT, detail["trace_file"])) as fh:
        trace = json.load(fh)
    layers = {s["layer"] for s in trace["spans"]}
    assert SPAN_LAYERS <= layers, SPAN_LAYERS - layers
    assert {k.split(".")[0] for k in {**trace["per_layer"], **trace["single_workload"]}} \
        >= MODULE_LAYERS
    for s in trace["spans"]:
        assert s["end"] >= s["start"], s
    self_times = {k: v for k, v in trace["per_layer"].items() if k.startswith("self.")}
    assert self_times and all(v >= 0 for v in self_times.values()), self_times
    assert all(v >= 0 for v in trace["run_self_s"].values()), trace["run_self_s"]
