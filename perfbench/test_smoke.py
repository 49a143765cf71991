"""The benchmark's own test: every workload at tiny sizes, untraced and
traced, must finish, check every output correct, measure a window of
whole steps and print each metric named in BENCHMARK.json.

    python3 -m pytest perfbench/test_smoke.py -q     # from the repo root
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# per workload: checked reads and writes (insert+delete+commit cycles)
# in one step
READS_PER_STEP = {"query_serve": 8, "ingest_churn": 6}
WRITES_PER_STEP = {"query_serve": 0, "ingest_churn": 1}

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(workload: str, trace: int) -> tuple[dict, dict]:
    """The result line and the report line before it."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "2", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke(workload, trace):
    res, report = run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    # the untraced steps: all of a --trace 0 window, the odd-numbered
    # ones (untraced first) of a --trace 1 one
    steps = report["figures"]["steps"]
    assert steps >= (2 if trace else 1)
    untraced = (steps + 1) // 2 if trace else steps
    assert report["figures"]["reads"] == untraced * READS_PER_STEP[workload]
    assert report["figures"].get("writes", 0) == untraced * WRITES_PER_STEP[workload]
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in want}
    for m in want:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]


def test_fails_without_engine(tmp_path):
    """Outside a full checkout the benchmark exits non-zero, printing no
    result."""
    dst = tmp_path / "perfbench"
    dst.mkdir()
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            (dst / f).write_bytes(open(os.path.join(HERE, f), "rb").read())
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_serve",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert out.returncode != 0 and out.stdout.strip() == ""
