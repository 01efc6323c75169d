"""Smoke test of the benchmark at scale 0.001.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
Each case starts the engine, so the file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(workload, trace, *extra, cwd=ROOT, env=None):
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(cwd, "perfbench", "run.py"),
            "--workload", workload,
            "--seed", "7",
            "--seconds", "1",
            "--trace", str(trace),
            "--scale", "0.001",
            *extra,
        ],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    return proc


def _result(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


@pytest.mark.parametrize(
    "workload,trace",
    [(w["name"], t) for w in SPEC["workloads"] for t in (0, 1)] + [("curation", 0)],
)
def test_prints_every_metric_with_its_unit(workload, trace):
    report, res = _result(_run(workload, trace))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0, report
    assert res["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in res["metrics"].items()
    }
    for v in res["metrics"].values():
        assert isinstance(v["value"], (int, float))
    if not trace:
        assert all(res["metrics"][m["name"]]["value"] > 0 for m in spec)
    assert report["error_rate"] == 0
    assert report["settings"]["SPARK_GRAFT_CPUS"] == str(len(os.sched_getaffinity(0)))


@pytest.mark.parametrize(
    "workload,check", [("dashboard", "ref_grouped_summary"), ("ingest", "latest_view")]
)
def test_gate_trips_on_a_wrong_result(workload, check):
    report, res = _result(_run(workload, 0, "--corrupt", check))
    assert res["correct"] is False
    assert res["failed"] == 1
    assert report["failed_checks"] == [check]


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = _run("dashboard", 0, cwd=str(tmp_path), env=env)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
