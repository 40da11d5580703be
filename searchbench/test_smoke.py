"""Smoke test: every workload, untraced and traced, on a tiny corpus.

    python3 -m pytest searchbench/test_smoke.py -q

Each case runs the benchmark command for one second on a 60-conversation
corpus and checks that the run passed its oracle check and printed every
metric BENCHMARK.json names, with the unit given there.
"""

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


@pytest.mark.slow
@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_reports_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--convs", "60"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    assert set(got) == {m["name"] for m in want}
    for m in want:
        value = got[m["name"]]["value"]
        assert got[m["name"]]["unit"] == m["unit"]
        assert isinstance(value, (int, float)) and value == value  # not NaN


def test_refuses_to_run_without_the_engine(tmp_path):
    """Outside a checkout that holds nexlt_spark, the command fails fast and
    prints no result."""
    bench = tmp_path / "searchbench"
    bench.mkdir()
    for name in ("run.py", "workloads.py", "proc.py"):
        (bench / name).write_text(open(os.path.join(HERE, name)).read())
    proc = subprocess.run(
        [sys.executable, str(bench / "run.py"), "--workload", "serve_warm",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
