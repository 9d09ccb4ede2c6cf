"""Smoke test of the benchmark: each workload (all run at sf0.001) with
``--seconds 0``, which runs one timed pass, or for a traced run one
block of four passes (untraced, traced, traced, untraced).

Runs ``BENCHMARK.json``'s command with its standard arguments, untraced
and traced, and checks that every metric ``BENCHMARK.json`` declares is
printed with its unit, that the run is correct and that the oracle check
ran for every entry. Takes a few minutes (one Spark session per run).

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
sys.path.insert(0, str(ROOT / "perfbench"))

from workloads import WORKLOADS  # noqa: E402


def _run(workload: str, trace: int) -> tuple[dict, dict, int]:
    proc = subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    lines = proc.stdout.strip().splitlines()
    assert lines, proc.stderr[-2000:]
    stamps = json.loads(lines[-2].removeprefix("perfbench "))
    return json.loads(lines[-1]), stamps, proc.returncode


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_prints_declared_metrics(workload, trace):
    result, stamps, code = _run(workload, trace)
    assert code == 0 and result["correct"], result
    assert result["failed"] == 0 and result["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        value = result["metrics"][m["name"]]
        assert value["unit"] == m["unit"]
        assert isinstance(value["value"], (int, float))
    assert stamps["oracle_checked"] == len(WORKLOADS[workload].entries)
    assert stamps["error_rate"] == 0
    if trace:
        # the traced pass ran, and its layers account for each sample
        assert result["metrics"]["exec.action_s"]["value"] > 0
        assert stamps["max_unaccounted_share"] <= 0.10


def test_exits_nonzero_without_engine(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in (ROOT / "perfbench").glob("*.py"):
        (bench / f.name).write_text(f.read_text())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(SPEC))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "plan_cold",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
