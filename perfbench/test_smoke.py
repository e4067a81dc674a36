"""Smoke test of the benchmark itself, at the smallest input size.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload once, traced, with the first output deliberately
damaged, and checks that the run prints every metric with its unit,
that spans nest with non-negative self times, that every Spark job of a
traced operation is attributed to exactly one phase, and that exactly
the damaged output is counted as failed.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402
import workloads  # noqa: E402
from spans import self_times  # noqa: E402


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_workload_smoke(workload, capsys):
    cfg = run.Config(workload, seed=5, seconds=0.1, trace=True, scale="smoke", corrupt_first=True)
    record = run.run(cfg)
    run._emit(cfg, record)
    lines = capsys.readouterr().out.strip().splitlines()

    for name, unit in {**run.END_TO_END, **run.PER_LAYER}.items():
        assert any(line.split()[0] == name and line.split()[-1] == unit for line in lines), name
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.PER_LAYER

    # the damaged first output is the only failure
    assert result["failed"] == 1 and not result["correct"]
    assert record["ops"][0]["ok"] is False
    assert all(o["ok"] for o in record["ops"][1:])

    spans = record["spans"]
    assert spans
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        assert s["end"] >= s["start"]
        parent = by_id.get(s["parent"])
        if parent is not None:
            assert parent["op"] == s["op"]
            assert parent["start"] <= s["start"] and s["end"] <= parent["end"]
    assert all(v >= -1e-9 for v in self_times(spans).values())
    assert {"op", "build", "exec"} <= {s["name"] for s in spans}

    # every job of a traced operation ran in build, plan or exec, and the
    # status store had caught up with each one when it was read
    traced = [o["layers"] for r in record["rounds"] for o in r["ops"] if o["traced"]]
    assert traced
    for layers in traced:
        assert layers["jobs"] == layers["build.jobs"] + layers["plan.jobs"] + layers["exec.jobs"]
        assert layers["catalog.jobs"] <= layers["build.jobs"]
        assert layers["exec.jobs"] >= 1 and layers["exec.stages"] >= 1
        assert layers["exec.tasks"] >= layers["exec.stages"]
