"""The benchmark's own test, on smoke-size inputs:

- every workload prints exactly the metrics BENCHMARK.json names, with
  their units, in both the plain and the traced run (chain-revisit, which
  is not in BENCHMARK.json, too);
- a deliberately broken output check is counted as a failed stage call;
- without the package next to it the benchmark exits non-zero and prints
  no result.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.inputs import WORKLOADS as ALL_WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(cwd: str, workload: str, trace: int, *extra: str) -> subprocess.CompletedProcess:
    cmd = SPEC["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
        "--smoke", *extra,
    ]
    cmd[0] = sys.executable if cmd[0] == "python3" else cmd[0]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(ALL_WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_every_named_metric_is_printed(workload, trace):
    res = _result(_run(ROOT, workload, trace))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in declared}
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize(
    "workload,trace", [("chain-web", 0), ("crawl-rounds", 0), ("chain-web", 1)]
)
def test_broken_output_check_raises_error_rate(workload, trace):
    # the traced chain also checks the detector UDF's row count
    res = _result(_run(ROOT, workload, trace, "--inject-fault"))
    assert res["correct"] is False
    assert res["attempted"] >= 1
    assert res["failed"] == res["attempted"]


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path), tmp_path / path,
            ignore=shutil.ignore_patterns(".work", "__pycache__"),
        )
    proc = _run(str(tmp_path), WORKLOADS[0], 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
