"""Smoke test for the benchmark itself, on tiny inputs (scale factor 0.001).

    python3 -m pytest perfbench/test_smoke.py -q

For every workload in BENCHMARK.json: an untraced run prints every
end-to-end metric with its unit, two traced runs with one seed print every
per-layer metric and repeat the exact counters exactly, and every output
check passes. A directory holding only the benchmark makes it fail without a
result.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
EXACT = ["spark.jobs", "plans.exchanges", "pipeline.dim_bands_rewritten",
         *[m["name"] for m in SPEC["per_layer"] if m["name"].endswith(".build_jobs")]]


def _run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=240,
    )


def _result(workload: str, trace: int, metrics: list[dict]) -> dict:
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert sorted(res) == ["attempted", "correct", "failed", "metrics"]
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, p.stderr[-3000:]
    assert list(res["metrics"]) == [m["name"] for m in metrics]
    for m in metrics:
        assert res["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
    return res


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_metrics_checks_and_exact_counters(workload):
    e2e = _result(workload, 0, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in e2e["metrics"].values()), e2e
    a = _result(workload, 1, SPEC["per_layer"])
    b = _result(workload, 1, SPEC["per_layer"])
    for name in EXACT:
        assert a["metrics"][name]["value"] == b["metrics"][name]["value"], name


def test_fails_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, SPEC["workloads"][0]["name"], 0)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
