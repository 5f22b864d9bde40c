"""Smoke test of the benchmark: one sf0.001 run per trace mode with the
fewest passes (one cold, one warm). Every metric BENCHMARK.json names
must be printed with its unit, and every result must be correct.

    python3 -m pytest perfbench/tests -q

Takes about two minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


@pytest.mark.parametrize(
    ("workload", "trace", "kind"),
    [("curation", 0, "end_to_end"), ("warehouse_refresh", 1, "per_layer")],
)
def test_run_prints_every_metric(workload: str, trace: int, kind: str) -> None:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "0", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    meta = json.loads(lines[-2])["meta"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC[kind]}
    got = result["metrics"]
    assert set(got) == set(want)
    for name, unit in want.items():
        assert got[name]["unit"] == unit, name
        assert isinstance(got[name]["value"], (int, float)), name
    if kind == "end_to_end":
        assert all(got[name]["value"] > 0 for name in want)
    for key in ("seed", "nproc", "master", "steal_pct", "calibrate_s"):
        assert key in meta
    if trace:
        assert os.path.exists(os.path.join(ROOT, meta["trace_file"]))
