"""Smoke test of the benchmark: one untraced and one traced run, each
as short as ``--seconds 1`` allows (the pass minimum still holds),
print every metric that BENCHMARK.json declares, with its unit.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _check(result: dict, declared: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    assert {n: m["unit"] for n, m in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared}


def test_untraced_run_prints_every_end_to_end_metric():
    bench = _declared()
    _check(_run(bench["workloads"][0]["name"], 0), bench["end_to_end"])


def test_traced_run_prints_every_per_layer_metric():
    bench = _declared()
    _check(_run(bench["workloads"][-1]["name"], 1), bench["per_layer"])
