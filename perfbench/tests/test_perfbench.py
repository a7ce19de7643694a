"""Tests for the benchmark itself. The smoke runs drive run.py end to end
at the smallest input sizes:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, REPO)

from perfbench import harness, inputs, reference, trace  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(*args: str, cwd: str = REPO) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600)


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run_prints_every_end_to_end_metric(workload):
    out = _result(_run("--workload", workload, "--seed", "3", "--seconds",
                       "1", "--trace", "0", "--smoke"))
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_smoke_traced_run_prints_every_per_layer_metric():
    out = _result(_run("--workload", "tile_join", "--seed", "3",
                       "--seconds", "1", "--trace", "1", "--smoke"))
    assert out["correct"] is True
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["spark.jobs"] > 0 and m["spark.tasks"] > 0
    assert m["sources.files_read"] > 0
    assert m["kernels.python_run_s"] > 0  # refine and decode kernels ran


def test_without_the_program_the_run_fails(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(REPO, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "records",
                                                  "__pycache__"))
    proc = _run("--workload", "tile_join", "--seed", "1", "--seconds", "1",
                "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_inputs_are_a_function_of_the_seed():
    a, _ = inputs.image_table(np.random.default_rng(5), 20)
    b, _ = inputs.image_table(np.random.default_rng(5), 20)
    c, _ = inputs.image_table(np.random.default_rng(6), 20)
    assert a.equals(b) and not a.equals(c)


def test_z2_reference_matches_a_bit_by_bit_loop():
    rng = np.random.default_rng(0)
    lon, lat = rng.uniform(-180, 180, 200), rng.uniform(-90, 90, 200)
    got = reference.z2_cell(lon, lat, 4)
    for x, y, z in zip(lon, lat, got):
        xb = min(int((x + 180.0) / 360.0 * 16), 15)
        yb = min(int((y + 90.0) / 180.0 * 16), 15)
        want = sum(((xb >> i) & 1) << (2 * i) | ((yb >> i) & 1) << (2 * i + 1)
                   for i in range(4))
        assert z == want


def test_point_in_ring_on_a_concave_polygon():
    ring = [(0, 0), (4, 0), (4, 4), (2, 1), (0, 4), (0, 0)]
    x = np.array([1.0, 3.0, 2.0, 2.0, 5.0])
    y = np.array([0.5, 0.5, 2.0, 0.5, 1.0])
    assert reference.points_in_ring(x, y, ring).tolist() == [
        True, True, False, True, False]


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = list(range(1, 101))
    value, pct, n = harness.tail_percentile(xs)
    assert (pct, n) == (90.0, 100) and value == 90
    assert harness.tail_percentile(xs[:15])[1] == 50.0


def test_rollup_credits_jobs_to_their_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Submission Time": 1000,
         "Properties": {"spark.jobGroup.id": "op00001:x",
                        "spark.sql.execution.id": "7"}},
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLExecutionStart", "executionId": 7,
         "sparkPlanInfo": {"nodeName": "Scan parquet", "children": [],
                           "metrics": [{"name": "number of files read",
                                        "accumulatorId": 11,
                                        "metricType": "sum"}]}},
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerDriverAccumUpdates", "executionId": 7,
         "accumUpdates": [[11, 3]]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor Run Time": 500,
                          "Executor CPU Time": 250_000_000,
                          "JVM GC Time": 10}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Completion Time": 2000}},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events))
    g = trace.rollup([str(path)])["op00001:x"]
    assert g["jobs"] == 1 and g["stages"] == 1 and g["tasks"] == 1
    assert g["files_read"] == 3
    assert g["task_run_s"] == 0.5 and g["task_cpu_s"] == 0.25
