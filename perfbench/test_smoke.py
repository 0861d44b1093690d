"""Smoke test of the benchmark: every workload at scale 0.001, the cold unit,
the warm-up units and one timed unit, untraced and traced.

    python3 -m pytest perfbench/test_smoke.py -q

Each run must exit 0, print every metric ``BENCHMARK.json`` names with its
unit, report a zero failure rate and keep its per-unit counters steady.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench.run import DETAIL_ONLY
from perfbench.workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def bench(workload: str, trace: int):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "0", "--trace", str(trace),
           "--scale", "0.001"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_prints_every_metric(workload, trace):
    detail, result = bench(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, detail["problems"]
    # --seconds 0 times exactly one unit after the cold one and the warm-ups
    attempted = 2 + WORKLOADS[workload].warmup_units
    assert result["attempted"] == attempted
    assert detail["end_to_end"]["failure_rate"] == {"value": 0.0, "unit": "ratio", "samples": attempted}
    assert detail["counter_drift"] == {}
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if not trace:
        e2e = detail["end_to_end"]
        assert all(e2e[m["name"]]["value"] > 0 for m in wanted)
        assert set(e2e) == {m["name"] for m in wanted} | set(DETAIL_ONLY)
    assert not [d for d in os.listdir(ROOT) if d.startswith(".perfbench-")]
