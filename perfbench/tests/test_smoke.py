"""Smoke test of the benchmark at a small input scale.

Runs every workload once, traced (a traced run also runs the untraced half
and prints every end-to-end metric), and asserts that every metric named in
BENCHMARK.json is printed with its unit, that the outputs check, and that
every per-layer metric is measured (non-zero) on some workload of
BENCHMARK.json.  Also checks that the benchmark refuses to run without the
package beside it.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path[:0] = [ROOT, os.path.dirname(HERE)]

import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
RESULTS: dict[str, dict] = {}


def run_bench(cwd: str, workload: str, timeout: int = 900):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", "1", "--scale", "0.2"],
        cwd=cwd, capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("workload", sorted(workloads.REGISTRY))
def test_workload_prints_every_metric(workload):
    proc = run_bench(ROOT, workload)
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    for m in SPEC["end_to_end"]:
        assert any(ln.startswith(f"metric {m['name']} = ") and ln.endswith(f" {m['unit']}")
                   for ln in lines), m["name"]
    assert list(result["metrics"]) == [m["name"] for m in SPEC["per_layer"]]
    for m in SPEC["per_layer"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    RESULTS[workload] = result["metrics"]


def test_every_layer_metric_is_measured():
    names = [w["name"] for w in SPEC["workloads"]]
    if not all(n in RESULTS for n in names):
        pytest.skip("needs the workload runs above")
    for m in SPEC["per_layer"]:
        if m["name"] in ("operators.bloom.false_positive_ratio",):
            continue  # zero by design at this filter load
        assert any(RESULTS[n][m["name"]]["value"] > 0 for n in names), m["name"]


def test_refuses_without_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = run_bench(str(tmp_path), SPEC["workloads"][0]["name"], timeout=180)
    assert proc.returncode != 0
    assert not proc.stdout.strip()
