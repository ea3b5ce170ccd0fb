"""Smoke test of the benchmark at smoke size (events at the sf0.001 row
count, 300 documents and 200 vectors, a three-file stream feed).

    python3 -m pytest perfbench/test_smoke.py -q

For each workload, an untraced and a traced run must print every metric of
``BENCHMARK.json`` with its unit, pass the correctness gate, and (traced)
leave a trace file that parses.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def run(workload: str, trace: int) -> tuple[dict, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stdout


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_run_prints_every_metric(workload, trace):
    result, stdout = run(workload, trace)
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if trace:
        path = os.path.join(ROOT, ".perfbench_out", f"trace-{workload}-s7.json")
        with open(path) as f:
            spans = json.load(f)
        assert spans["spans"] and spans["self_s"]
        assert all(s["end"] >= s["start"] for s in spans["spans"])


def test_refuses_without_engine(tmp_path):
    """Outside a full checkout the benchmark exits non-zero with no result."""
    os.makedirs(tmp_path / "perfbench")
    for name in os.listdir(os.path.join(ROOT, "perfbench")):
        if name.endswith(".py"):
            with open(os.path.join(ROOT, "perfbench", name)) as src:
                (tmp_path / "perfbench" / name).write_text(src.read())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(BENCH))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "stream_apply", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
