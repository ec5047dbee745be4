"""Smoke test of the benchmark itself: every workload at tiny scale, untraced
and traced, must print every metric BENCHMARK.json names, with its unit,
and pass every correctness gate.

    python3 -m pytest perfbench/test_smoke.py -q

Each case starts its own Spark JVM; the whole file takes several minutes.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.layers import LAYER_METRICS  # noqa: E402
from perfbench.run import E2E_METRICS  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def test_benchmark_json_matches_code():
    assert {m["name"]: (m["unit"], m["better"]) for m in BENCH["end_to_end"]} == E2E_METRICS
    assert {m["name"]: (m["unit"], m["better"]) for m in BENCH["per_layer"]} == LAYER_METRICS
    assert {w["name"] for w in BENCH["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_tiny(workload, trace):
    out = subprocess.run(
        [
            sys.executable, os.path.join(HERE, "run.py"),
            "--workload", workload, "--seed", "3", "--seconds", "1",
            "--trace", str(trace), "--scale", "tiny",
        ],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, out.stderr[-3000:]
    assert result["attempted"] >= 1
    want = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    got = result["metrics"]
    assert set(got) == {m["name"] for m in want}
    for m in want:
        assert got[m["name"]]["unit"] == m["unit"]
        assert math.isfinite(got[m["name"]]["value"])
    if not trace:
        assert all(got[m["name"]]["value"] > 0 for m in want)
