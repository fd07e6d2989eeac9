"""Smoke test: every workload once at tiny sizes, untraced and traced.

    python3 -m pytest perfbench/test_smoke.py -q

Asserts that each run exits 0, that its last stdout line carries every
metric BENCHMARK.json names with the unit it names, and that every
output check passed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_emits_every_metric(workload, trace):
    res = _run(workload, trace)
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in res["metrics"].items()
    }
    for v in res["metrics"].values():
        assert isinstance(v["value"], (int, float))
    if trace and workload == "induce_local":
        # the search loop runs Spark-free
        assert res["metrics"]["search.spark_jobs"]["value"] == 0
        assert res["metrics"]["search.calls"]["value"] > 0
    if trace and workload == "snapshot_append":
        # construction layers and the distributed scoring layers, degrees
        # included, all run inside the measured operation
        for layer in ("pipeline.materialize", "operators.delta", "operators.bgp",
                      "operators.prune", "operators.mdl_ops", "operators.degrees"):
            assert res["metrics"][f"{layer}.calls"]["value"] > 0, layer
        assert res["metrics"]["operators.degrees.spark_jobs"]["value"] > 0
