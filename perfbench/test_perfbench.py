"""Self-test of the benchmark: smoke runs of every workload.

    python3 -m pytest perfbench -q

Each workload runs once per mode at smoke size; the result line must be
correct and carry every metric BENCHMARK.json names, with its unit. The
runs must leave the repository tree as they found it, and leave nothing
behind in the git-ignored ``.perfbench/`` run directory either.
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
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _git_status() -> str | None:
    try:
        out = subprocess.run(
            ["git", "status", "--porcelain", "--untracked-files=all"],
            cwd=ROOT, capture_output=True, text=True, check=True,
        )
    except (OSError, subprocess.CalledProcessError):
        return None  # not a git checkout
    return out.stdout


def _run(workload: str, trace: int, cwd: str = ROOT, extra=()) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace), "--smoke", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.fixture(scope="module")
def status_before():
    return _git_status()


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_prints_every_metric(workload, trace, status_before, tmp_path):
    spans = tmp_path / "spans.jsonl"
    proc = _run(workload, trace, extra=["--spans", str(spans)] if trace else [])
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, proc.stdout[-3000:]
    assert result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
        if not trace:
            assert got["value"] > 0, m["name"]
    params = json.loads(proc.stdout.strip().splitlines()[-2].removeprefix("params "))
    for key in ("seed", "nproc", "phases_s", "failed_ratio"):
        assert key in params
    assert _git_status() == status_before, "the run changed the repository tree"
    state_dir = os.path.join(ROOT, ".perfbench")
    assert not os.path.exists(state_dir) or not os.listdir(state_dir), os.listdir(state_dir)
    if trace:  # the spans went to the file asked for
        rows = [json.loads(line) for line in spans.read_text().splitlines()]
        assert len(rows) == params["spans"]
        assert {"id", "name", "start", "end", "parent", "op"} <= set(rows[0])


def test_fails_without_the_package(tmp_path):
    """A directory holding only the benchmark must fail, printing no result."""
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = _run(WORKLOADS[0], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
