"""Tiny-input smoke run of every workload, untraced and traced.

    python3 -m pytest perfbench/test_smoke.py -q

Each run starts its own Spark session (about a minute per traced run).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = BENCH["command"] + ["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace)]
    return subprocess.run(cmd + ["--size", "tiny"], cwd=cwd, stdout=subprocess.PIPE, text=True, timeout=600)


def _result(workload: str, trace: int) -> dict:
    out = _run(ROOT, workload, trace)
    assert out.returncode == 0
    return json.loads(out.stdout.strip().splitlines()[-1])


def _check(result: dict, declared: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 4
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in declared}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_reports_every_end_to_end_metric(workload):
    result = _result(workload, 0)
    _check(result, BENCH["end_to_end"])
    assert all(v["value"] > 0 for v in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_reports_every_per_layer_metric(workload):
    result = _result(workload, 1)
    _check(result, BENCH["per_layer"])
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["spark.jobs"] >= 1 and m["python.worker_s"] > 0
    assert abs(m["trace.cover_ratio_worst"] - 1.0) <= 0.1
    if workload == "sketch_build":
        # the probe and keyed paths ride the traced run
        assert m["engine.probe_s"] > 0 and m["accuracy.bloom_fpp"] > 0
        assert m["engine.keyed_groups"] > 0 and m["engine.keyed_build_s"] > 0 and m["engine.keyed_merge_s"] > 0


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path, ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(str(tmp_path), WORKLOADS[0], 0)
    assert out.returncode != 0 and out.stdout == ""
