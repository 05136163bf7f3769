"""Smoke test of the benchmark: every workload, untraced and traced, on tiny
inputs; every metric BENCHMARK.json names is printed with its unit.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(*args, root=REPO_ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(root, "perfbench", "run.py"), *args],
        cwd=root, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run_prints_every_metric(workload, trace):
    p = _run("--workload", workload, "--seed", "7", "--seconds", "1",
             "--trace", str(trace), "--smoke")
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, p.stderr[-4000:]
    assert result["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    got = result["metrics"]
    assert sorted(got) == sorted(m["name"] for m in want)
    for m in want:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float)), m["name"]
    if not trace:
        assert all(got[m["name"]]["value"] > 0 for m in want)
    assert detail["seed"] == 7 and detail["host"]["nproc"] >= 1


def test_steady_batch_layers_sum_to_wall_time():
    from perfbench.layers import SELF_TIMES

    p = _run("--workload", "steady_cdc", "--seed", "3", "--seconds", "1", "--trace", "1",
             "--smoke")
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    detail, got = json.loads(lines[-2]), json.loads(lines[-1])["metrics"]
    # the per-batch layer self times add up to the benchmark's own timer
    # around process_batch: for each batch (trace.batch_gap_s is the largest
    # gap) and on average (the metrics are per-batch means)
    assert got["trace.batch_gap_s"]["value"] < 0.02
    timed = statistics.mean(detail["op_seconds"])
    layers = sum(got[m]["value"] for m in SELF_TIMES.values())
    assert abs(layers - timed) < 0.01 + 0.02 * timed, (layers, timed)
    assert got["laketable.merge_upsert_s"]["value"] > 0


def test_refuses_to_run_without_the_engine(tmp_path):
    import shutil

    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__", "data"))
    shutil.copy(os.path.join(REPO_ROOT, "BENCHMARK.json"), tmp_path)
    p = _run("--workload", "steady_cdc", "--seed", "1", "--seconds", "1", "--trace", "0",
             root=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
