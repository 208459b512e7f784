"""Smoke test: every workload, untraced and traced, on a tiny corpus.
Checks the output contract against BENCHMARK.json."""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_runs_and_reports_every_metric(workload, trace):
    proc = subprocess.run(
        SPEC["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1",
                           "--trace", str(trace), "--docs", "16"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if not trace:
        assert out["metrics"]["text_match_rate"]["value"] == 1.0
        assert out["metrics"]["ok_share"]["value"] == 1.0
    work = os.path.join(ROOT, ".perfbench_work")
    left = os.listdir(work) if os.path.isdir(work) else []
    assert not [d for d in left if d.startswith(f"{workload}-7-")]
