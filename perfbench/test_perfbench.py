"""Tests of the benchmark itself.

Run from the checkout root:

    python3 -m pytest perfbench/test_perfbench.py -q

The repeat test runs every workload twice with tracing on, about two
minutes per workload on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

EXACT = ("jobs", "stages", "tasks", "build_jobs")


def run(cwd: str, workload: str, seed: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


def timed_pass_counts(stdout: str) -> list[tuple]:
    """(jobs, stages, tasks, build_jobs, rebuilds) of every timed pass."""
    out = []
    for line in stdout.splitlines():
        if line.startswith("perfbench pass "):
            rec = json.loads(line[len("perfbench pass "):])
            if rec["kind"] != "warmup":
                out.append(tuple(rec[k] for k in EXACT) + (rec["rebuilds"],))
    return out


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_work_counts_repeat_and_timed_passes_rebuild_nothing(workload):
    counts = []
    for _ in range(2):
        proc = run(ROOT, workload, seed=7)
        assert proc.returncode == 0, proc.stderr[-3000:]
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        assert result["correct"] and result["failed"] == 0
        assert result["metrics"]["artifacts.rebuilds"]["value"] == 0
        counts.extend(timed_pass_counts(proc.stdout))
    assert len(counts) >= 2 * 2 * 3  # two runs, two windows, three passes at least
    assert len(set(counts)) == 1, sorted(set(counts))
    assert counts[0][-1] == 0  # no artifact table written in a timed pass


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = run(str(tmp_path), "rfp_etl", seed=1)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
