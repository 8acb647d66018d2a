"""Self-test of the benchmark: each workload, one measured iteration at
a tiny input scale, untraced and traced.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
SEED = 3
sys.path.insert(0, str(ROOT / "perfbench"))
from run import WORKLOADS  # noqa: E402


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "0", "--trace", str(trace),
         "--scale", "0.01", "--warmup", "0", "--min-iters", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload(workload):
    for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
        result = _run(workload, trace)
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] is True and result["failed"] == 0
        assert result["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in SPEC[kind]}
        got = {name: m["unit"] for name, m in result["metrics"].items()}
        assert got == want
        assert all(isinstance(m["value"], (int, float)) for m in result["metrics"].values())
    trace_file = ROOT / ".perfbench" / "traces" / f"{workload}-seed{SEED}.jsonl"
    records = [json.loads(line) for line in trace_file.read_text().splitlines()]
    spans = [r for r in records if "name" in r]
    iterations = {s["trace"]: s for s in spans if s["name"] == "iteration"}
    calls = [s for s in spans if s["name"] != "iteration"]
    assert iterations and calls
    for span in calls:
        parent = iterations[span["trace"]]
        assert span["parent"] == "iteration"
        assert parent["start"] <= span["start"] <= span["end"] <= parent["end"]
    assert "spread" in records[-1]
