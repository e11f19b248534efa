"""Fast self-test of the benchmark harness.

Runs every workload (the listed ones and ``corpus_dedup``) for its warm-up
pass and one measured pass at sf0.001 (500 documents and embeddings),
untraced and traced, and checks the result line: every metric named in
BENCHMARK.json is emitted with its unit, and nothing failed. About four
minutes on four cores:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--sf", "0.001", "--docs", "500",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize(
    "workload", [w["name"] for w in SPEC["workloads"]] + ["corpus_dedup"]
)
def test_one_pass_emits_every_metric(workload, trace):
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    # failed_frac = failed / attempted must be 0
    assert res["attempted"] >= 1 and res["failed"] == 0 and res["correct"] is True
    expected = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in expected} == {
        k: v["unit"] for k, v in res["metrics"].items()
    }
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)), k
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_missing_program_fails_without_result(tmp_path):
    """In a directory holding only the benchmark, the run exits non-zero and
    prints no result line."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_refresh",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
