"""Self-test of the benchmark harness at tiny scale.

    python3 -m pytest perfbench/tests -q

Every workload completes in both modes and prints every metric that
BENCHMARK.json names, and a corrupted oracle expectation makes the harness
report a failure and exit non-zero. Each run starts its own Spark JVM, so
the module takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
sys.path[:0] = [REPO, BENCH]

import workloads  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def run_bench(work_dir, workload: str, trace: int, seed: int = 7) -> tuple[int, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--size", "tiny", "--work-dir", str(work_dir)],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout


@pytest.fixture(scope="module")
def work_dir(tmp_path_factory):
    return tmp_path_factory.mktemp("perfbench")


def test_spec_lists_the_workloads():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_reports_every_metric(work_dir, workload, trace):
    rc, stdout = run_bench(work_dir, workload, trace)
    result = json.loads(stdout.strip().splitlines()[-1])
    assert rc == 0, stdout
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {name: m["unit"] for name, m in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
        assert name in stdout.split("\n{")[0]  # the printed table names it too
    assert "error_rate" in stdout
    if trace:
        assert_layer_spans(work_dir, workload)


LAYERS = ("session", "sources", "ordering", "banks", "extract", "enrich", "route",
          "aggregate", "sinks", "pipeline")


def assert_layer_spans(work_dir, workload: str) -> None:
    """The newest trace of ``workload`` has a finished span for every layer."""
    traces = sorted((work_dir / "traces").glob(f"{workload}-*.json"), key=os.path.getmtime)
    with open(traces[-1]) as f:
        spans = json.load(f)["spans"]
    assert all(s["end"] >= s["start"] for s in spans)
    names = {s["name"].split(".")[0] for s in spans}
    assert set(LAYERS) <= names, set(LAYERS) - names


def test_corrupted_expectation_is_reported(work_dir):
    data = workloads.ensure_workload(str(work_dir), "mixed_short", 8, "tiny")
    path = os.path.join(data, "expected.json")
    with open(path) as f:
        expected = json.load(f)
    expected["routed_per_sink"]["unmatched"] += 1
    with open(path, "w") as f:
        json.dump(expected, f)
    rc, stdout = run_bench(work_dir, "mixed_short", 0, seed=8)
    result = json.loads(stdout.strip().splitlines()[-1])
    assert rc != 0
    assert result["correct"] is False
    assert result["failed"] == result["attempted"] >= 1
    assert "ERROR" in stdout
