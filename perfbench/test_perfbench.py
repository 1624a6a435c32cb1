"""Self-test of the benchmark (not part of the repo's tier-1 suite).

    python3 -m pytest perfbench -q

Each case runs the ``BENCHMARK.json`` command line in a subprocess, at
the sf0.001-sized ``smoke`` scale.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(cwd: str, workload: str, *extra: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--scale", "smoke", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_run_prints_every_metric_with_its_unit(workload):
    out = _run(ROOT, workload, "--trace", "1")
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC["per_layer"]
    }
    printed = {tuple(line.split()[1:2] + line.split()[-1:]) for line in lines[:-1]}
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert (m["name"], m["unit"]) in printed, m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_planted_wrong_expectation_fails_the_check(workload):
    """lakehouse_refresh plants a wrong silver count; iterative_barrier
    drops one oracle row."""
    out = _run(ROOT, workload, "--trace", "0", "--plant-defect")
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.splitlines()[-1])
    assert not result["correct"] and result["failed"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    out = _run(str(tmp_path), WORKLOADS[0], "--trace", "0")
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
