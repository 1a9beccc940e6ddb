"""Smoke test of the benchmark itself: every workload at tiny sizes
(sf0.001, 50 cities) reports every end-to-end metric with its unit,
emits every metric BENCHMARK.json declares, and no operation fails.

    python3 -m pytest perfbench/test_smoke.py -q

Takes a few minutes: six runs, each starting its own Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from run import WORKLOADS  # noqa: E402
from workloads import END_TO_END_UNITS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    DECLARED = json.load(fh)


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    report, last = (json.loads(x) for x in p.stdout.strip().splitlines()[-2:])
    return report, last


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_is_emitted(workload: str, trace: int) -> None:
    report, last = _run(workload, trace)
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert report["end_to_end"]["failed_frac"]["value"] == 0, report["errors"]
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1
    assert {k: v["unit"] for k, v in report["end_to_end"].items()} == END_TO_END_UNITS
    declared = DECLARED["per_layer" if trace else "end_to_end"]
    assert set(last["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = last["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    if trace == 0:
        assert all(last["metrics"][m["name"]]["value"] > 0 for m in declared)
    elif workload == "etl_hourly":
        assert last["metrics"]["sources.rest.requests_per_city"]["value"] > 0
    else:
        assert last["metrics"]["plans.jobs"]["value"] > 0
