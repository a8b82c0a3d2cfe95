"""A short run of each workload through the real command (1-2 min each)."""

import json
import os
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)


def run(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "0", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def metric_names(key):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[key]}


@pytest.mark.parametrize("workload", ["convert", "query-mix"])
def test_smoke(workload):
    out = run(workload, 0)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 1
    assert set(out["metrics"]) == metric_names("end_to_end")
    assert all(m["value"] > 0 for m in out["metrics"].values())


@pytest.mark.parametrize("workload", ["convert", "query-mix"])
def test_smoke_traced(workload):
    out = run(workload, 1)
    assert out["correct"]
    assert set(out["metrics"]) == metric_names("per_layer")
    m = {k: v["value"] for k, v in out["metrics"].items()}
    if workload == "convert":
        assert m["sources.tasks_per_op"] >= 1
    else:
        # the streaming jobs run in the traced run only
        assert m["streaming.op_s"] > 0 and m["streaming.batches_per_op"] >= 5
        assert m["queries.build_s"] > 0


def test_bare_directory_fails_without_a_result(tmp_path):
    """Without the engine package next to it, the benchmark must fail."""
    import shutil

    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "convert", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
