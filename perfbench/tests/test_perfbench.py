"""Self-test of the benchmark: every workload at tiny scale, traced and
untraced.  Run from the repo root: ``python3 -m pytest perfbench/tests``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
    SPEC = json.load(fh)
# batch runs table_rules, ndjson_transform and corpus_ops, so this
# covers all five
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload: str, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "2", "--trace", str(trace),
         "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_emits_every_metric(workload, trace):
    out = _run(workload, trace)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    record = json.loads(lines[-2])["run_record"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    assert record["error_rate"] == 0
    assert record["seed"] == 3 and record["nproc"] >= 1
    assert record["sentinel_start_s"] > 0 and record["sentinel_end_s"] > 0
    assert 0 <= record["cpu_steal_share"] < 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    if trace:
        # the layers' self times account for the traced wall time
        assert 0.9 <= result["metrics"]["trace.coverage"]["value"] <= 1.1
    else:
        for m in SPEC["end_to_end"]:
            assert result["metrics"][m["name"]]["value"] > 0, m["name"]


def test_fails_without_the_program():
    """In a directory holding only BENCHMARK.json and the benchmark, the
    run exits non-zero without printing a result."""
    bare = os.path.join(ROOT, ".perfbench_work", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(BENCH_DIR, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        out = _run(SPEC["workloads"][0]["name"], 0, cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout


def test_benchmark_json_lists_the_emitted_layers():
    from layers import PER_LAYER
    assert [(m["name"], m["unit"], m["better"]) for m in SPEC["per_layer"]] \
        == PER_LAYER


def test_latency_tail_has_ten_samples_beyond():
    from runinfo import latency_stats
    st = latency_stats([float(i) for i in range(1, 31)])
    assert st["tail"] == 20.0 and st["n"] == 30
    assert latency_stats([1.0, 3.0, 2.0])["tail"] == 3.0


def test_self_time_subtracts_children():
    from tracer import self_times
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},  # overlaps 2
        {"id": 4, "parent": 2, "start": 2.0, "end": 3.0},
    ]
    st = self_times(spans)
    assert st == {1: 5.0, 2: 2.0, 3: 3.0, 4: 1.0}
