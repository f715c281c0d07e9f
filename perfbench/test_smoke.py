"""Smoke test for the benchmark itself.

Runs every workload at ``--size tiny`` (a few hundred table rows, five
predict targets),
untraced and traced, and checks the output format: every metric named
in BENCHMARK.json is printed with its unit, the report line carries the
workload's own metric names, and no operation failed. Also runs the
traced-run report and the no-engine refusal.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "2", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_prints_every_metric(workload: str, trace: int) -> None:
    report, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    specs = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in specs}
    for m in specs:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    assert result["attempted"] >= 1
    assert result["failed"] == 0 and result["correct"] is True
    assert report["named"]["failed_ratio"] == {"value": 0.0, "unit": "ratio"}
    for name in ("setup_s", "latency_p50_s", "latency_tail_s", "peak_rss_mb"):
        assert "unit" in report["named"][name]
    assert "load1_pre" in report["box"]
    if trace:
        span_file = os.path.join(ROOT, ".bench_out", f"trace-{workload}-seed7.json")
        with open(span_file) as fh:
            spans = json.load(fh)["spans"]
        assert spans and {"name", "start", "end", "parent", "op"} <= set(spans[0])


def test_traced_report() -> None:
    """report.py pairs an untraced and a traced run of one seed."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "report.py"), "--workload", "analytics",
         "--seed", "8", "--seconds", "2", "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    rep = json.loads(proc.stdout)
    assert {"queries", "tables"} <= set(rep["self_share_of_op_time"])
    assert set(rep["tracing_overhead"]) >= {"mean_op_s", "window_s"}
    assert set(rep["per_layer"]) == {m["name"] for m in SPEC["per_layer"]}


def test_refuses_without_engine(tmp_path) -> None:
    """In a directory holding only the benchmark, the command fails
    without printing a result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "analytics", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
