"""Smoke tests for the benchmark at tiny scale.

Each test runs ``perfbench/run.py`` on its command line, as README.md
documents, and reads the last line of its output. Run with
``python3 -m pytest perfbench -q -p no:cacheprovider``.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from perfbench import run, workloads  # noqa: E402

TINY = ["--seed", "3", "--seconds", "0", "--convs", "150"]


def _run(*args: str, cwd: Path = REPO) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )
    return p.returncode, p.stdout.strip().splitlines()


def test_benchmark_json_lists_the_metrics_run_prints():
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == (
        run.END_TO_END
    )
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == (
        run.PER_LAYER
    )


@pytest.mark.parametrize("workload", ["graph_loops", "durable_resume"])
def test_traced_run_passes_checks_and_adds_no_jobs(workload):
    code, lines = _run("--workload", workload, "--trace", "1", *TINY)
    assert code == 0, lines[-20:]
    result = json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0, lines
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    assert set(metrics) == set(run.PER_LAYER)
    # the traced pass and the untraced pass before it ran the same jobs
    assert metrics["trace.extra_jobs"] == 0
    assert metrics["run.ops_failed_ratio"] == 0
    assert metrics["edges.invariant_mismatches"] == 0
    assert metrics["pagerank.jobs"] > 0 and metrics["components.jobs"] > 0
    busy = "lpa" if workload == "graph_loops" else "checkpoint"
    idle = "checkpoint" if workload == "graph_loops" else "lpa"
    assert metrics[f"{busy}.jobs"] > 0 and metrics[f"{idle}.jobs"] == 0


def test_untraced_run_reports_end_to_end_metrics():
    code, lines = _run("--workload", "durable_resume", "--trace", "0", *TINY)
    assert code == 0, lines[-20:]
    result = json.loads(lines[-1])
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == set(run.END_TO_END)
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_without_the_engine_it_fails_without_a_result(tmp_path):
    shutil.copy(REPO / "BENCHMARK.json", tmp_path)
    shutil.copytree(REPO / "perfbench", tmp_path / "perfbench")
    code, lines = _run("--workload", "graph_loops", *TINY, cwd=tmp_path)
    assert code != 0
    assert not any(line.startswith("{") for line in lines)
