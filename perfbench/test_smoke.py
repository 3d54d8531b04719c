"""Smallest-size smoke run of every benchmark workload.

    python3 -m pytest perfbench/test_smoke.py -q

Runs each workload once untraced and once traced at a tenth of its input
size, and checks that every metric named in BENCHMARK.json is emitted with
its unit, that every answer matched its oracle, and that the traced runs
together cover every layer the tracer names.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import tracing  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", "0.1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    report, result = proc.stdout.strip().splitlines()[-2:]
    return json.loads(report)["report"], json.loads(result)


def _check(result: dict, declared: list[dict]) -> None:
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in declared}
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], (int, float)), name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_emitted(workload):
    report, result = _run(workload, 0)
    _check(result, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in result["metrics"].values())
    prov = report["provenance"]
    for key in ("nproc", "cores_used", "spark", "python", "commit", "seed"):
        assert key in prov
    assert report["failed_ops_ratio"] == 0


def test_traced_runs_cover_every_layer():
    covered = set()
    for workload in WORKLOADS:
        _, result = _run(workload, 1)
        _check(result, SPEC["per_layer"])
        covered |= {
            layer for layer in tracing.LAYERS
            if result["metrics"][f"{layer}.calls"]["value"] > 0
        }
    assert covered == set(tracing.LAYERS)
