"""The benchmark's own tests: a tiny-size run of each workload with and
without tracing, the refusal to run outside a full checkout, and the
event-log arithmetic.

    python3 -m pytest perfbench/test_smoke.py -q

Each Spark run takes about 40 s on 4 cores.
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
sys.path.insert(0, ROOT)

from perfbench import eventlog, workloads  # noqa: E402
from perfbench.run import END_TO_END, WORKLOAD_NAMES  # noqa: E402


def _run(cwd, *args, timeout=300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOAD_NAMES)
def test_tiny_run(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", str(trace), "--size", "tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    names = END_TO_END if not trace else workloads.PER_LAYER
    assert set(res["metrics"]) == set(names)
    if not trace:
        assert res["metrics"]["pair_recall"]["value"] >= 0.99
        for k in ("setup_s", "cpu_s"):
            assert res["metrics"][k]["value"] > 0, k
    elif workload == "batch_neardup":
        m = {k: v["value"] for k, v in res["metrics"].items()}
        assert m["signatures.rows"] == 300
        assert 0.95 <= m["trace.accounted_share"] <= 1.0
        assert m["pipeline.jobs"] > 0 and m["streaming.fold_s"] == 0
    else:
        m = {k: v["value"] for k, v in res["metrics"].items()}
        assert m["streaming.jobs_per_fold"] > 0 and m["pipeline.jobs"] == 0
    if trace:
        assert m["memory.peak_rss_mb"] > 0


def test_refuses_without_engine(tmp_path):
    """Only BENCHMARK.json and the benchmark's files: exit non-zero and
    print no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "--workload", "batch_neardup", "--seed", "1",
             "--seconds", "1", "--trace", "0", timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_benchmark_json_lists_the_emitted_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOAD_NAMES)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: (m["unit"], m["better"])
            for m in spec["per_layer"]} == workloads.PER_LAYER


def test_window_attributes_jobs_tasks_and_gaps():
    log = eventlog.EventLog(
        jobs={0: [1000, 1400], 1: [1300, 1600], 2: [5000, 5100]},
        stages=[1000, 1300, 5000],
        tasks=[(1001, {"Executor Run Time": 300,
                       "Executor CPU Time": 2e8,
                       "Shuffle Write Metrics": {
                           "Shuffle Bytes Written": 1 << 20}}),
               (5001, {"Executor Run Time": 50})],
    )
    w = eventlog.window(log, eventlog.Span("x", 900, 2000))
    assert w.jobs == 2 and w.stages == 2
    assert w.task_run_s == pytest.approx(0.3)
    assert w.busy_s == pytest.approx(0.6)        # union of 1000-1600
    assert w.driver_gap_s == pytest.approx(0.5)  # 1.1 s wall - 0.6 s busy
    assert w.task_cpu_s == pytest.approx(0.2)
    assert w.shuffle_write_mb == pytest.approx(1.0)
