"""Smoke tests of the benchmark itself (not part of the repository's tier-1
suite):

    python3 -m pytest perfbench/test_smoke.py -q

They check that every metric BENCHMARK.json names is printed with its unit,
that a seed regenerates byte-identical inputs and another seed changes
them, and that the benchmark fails cleanly where the program is absent.
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

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_benchmark_json_names_every_printed_metric():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in b["workloads"]] == list(workloads.WORKLOADS)
    with open(os.path.join(HERE, "predictions.json")) as f:
        layers = json.load(f)["layers"]
    for layer in layers.values():
        assert set(layer["metrics"]) <= set(run.PER_LAYER)


def test_same_seed_regenerates_identical_inputs():
    assert gen.fingerprint(7) == gen.fingerprint(7)


def test_other_seed_changes_inputs():
    assert gen.fingerprint(7) != gen.fingerprint(8)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_smoke_run_prints_every_metric(workload, trace):
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, p.stdout.splitlines()[-2][:2000]
    want = run.PER_LAYER if trace else run.E2E
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_the_program():
    bare = os.path.join(ROOT, ".perfbench-run", f"bare-{os.getpid()}")
    try:
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = _run(bare, "sql_mix", 0)
        assert p.returncode != 0
        assert '"metrics"' not in p.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)
