"""Smoke tests of the benchmark itself (tiny inputs, a few minutes):

    python3 -m pytest medeabench/test_smoke.py -q

* a tiny run of each workload, traced and not, reports exactly the
  metrics ``BENCHMARK.json`` names, with their units;
* a deliberately broken kernel fails the output check (``ok_rate`` < 1);
* without the program the benchmark exits non-zero and prints no result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)
TINY_ROWS = "2000"


def _run(root: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(root, "medeabench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--rows", TINY_ROWS],
        cwd=root, capture_output=True, text=True, timeout=900,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _copy(dst: str, with_program: bool) -> None:
    ignore = shutil.ignore_patterns("_work", "__pycache__")
    shutil.copytree(HERE, os.path.join(dst, "medeabench"), ignore=ignore)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), dst)
    if with_program:
        shutil.copytree(os.path.join(ROOT, "medea_spark"), os.path.join(dst, "medea_spark"), ignore=ignore)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]] + ["census"])
def test_tiny_run_reports_every_metric(workload: str, trace: int) -> None:
    res = _result(_run(ROOT, workload, trace))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = BENCH["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {m["name"]: m["unit"] for m in want}
    if not trace:
        assert res["metrics"]["ok_rate"]["value"] == 1.0


def test_broken_kernel_fails_the_output_check(tmp_path) -> None:
    _copy(str(tmp_path), with_program=True)
    validator = tmp_path / "medea_spark" / "kernel" / "validator.py"
    validator.write_text(
        validator.read_text()
        + "\n\ndef validate_value(graph, value, collect_all=False):\n    return []\n"
    )
    res = _result(_run(str(tmp_path), "nightly", 0))
    assert not res["correct"] and res["failed"] >= 1
    assert res["metrics"]["ok_rate"]["value"] < 1.0


def test_without_the_program_exits_nonzero(tmp_path) -> None:
    _copy(str(tmp_path), with_program=False)
    proc = _run(str(tmp_path), "nightly", 0)
    assert proc.returncode != 0
    assert not proc.stdout.strip()
