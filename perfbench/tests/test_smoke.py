"""Smoke test of the benchmark: each workload of spec.json once at tiny
size, untraced and traced, the ones BENCHMARK.json does not time too.
Asserts that every metric named in BENCHMARK.json is printed with a
unit and that the output checks ran.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
with open(os.path.join(ROOT, "perfbench", "spec.json")) as f:
    SPEC = json.load(f)


def run_bench(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    info = next(json.loads(ln)["info"] for ln in lines
                if ln.startswith('{"info"'))
    return json.loads(lines[-1]), info


@pytest.mark.parametrize("workload", list(SPEC["workloads"]))
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_printed_with_unit(workload, trace):
    result, info = run_bench(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    want = BENCH["per_layer" if trace else "end_to_end"]
    for m in want:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    assert info["checks"], "no output check ran"
    assert all("ok" in c for c in info["checks"])
