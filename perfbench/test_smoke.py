"""Smoke test of the benchmark itself, at a tiny size.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload of BENCHMARK.json once untraced and once traced for
one second on a sf0.001 corpus, and asserts that each run prints every
metric named in BENCHMARK.json with its unit and passes its correctness
check; then drops one ingest micro-batch on purpose and asserts that the
check catches it. Takes a few minutes: each run starts its own Spark
driver.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int, *extra: str) -> tuple[int, dict | None]:
    cmd = [
        sys.executable, *SPEC["command"][1:], "--workload", workload,
        "--seed", "11", "--seconds", "1", "--trace", str(trace), "--sf", "0.001",
        *extra,
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    return p.returncode, json.loads(lines[-1]) if lines else None


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_prints_every_metric(workload: str, trace: int) -> None:
    code, out = _run(workload, trace)
    assert code == 0 and out is not None
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True
    assert out["attempted"] >= 1 and out["failed"] == 0
    named = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in named} == {
        k: v["unit"] for k, v in out["metrics"].items()
    }
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_skipped_ingest_batch_fails_the_check() -> None:
    code, out = _run("ingest", 0, "--inject-fault", "skip_ingest_batch")
    assert code == 1
    assert out is not None and out["correct"] is False
