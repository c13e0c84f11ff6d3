"""Tests of the benchmark itself. Run from the repository root:

    python3 -m pytest perfbench/tests -q

The end-to-end tests start the benchmark as a subprocess, exactly as
BENCHMARK.json's command does, with a short --seconds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import layers  # noqa: E402
import spans  # noqa: E402
from instrument import OpSample, process_tree, tree_cpu_s  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]
COUNTS = ("jobs_per_op", "stages_per_op", "tasks_per_op")


def _run(workload: str, trace: int, seed: int = 1, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [*BENCH["command"], "--workload", workload, "--seed", str(seed),
         "--seconds", "2", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    return result


@pytest.fixture(scope="module")
def untraced_pairs() -> dict[str, tuple[dict, dict]]:
    return {w: (_result(_run(w, 0)), _result(_run(w, 0))) for w in WORKLOADS}


@pytest.fixture(scope="module")
def traced_pair() -> tuple[dict, dict]:
    return _result(_run("flagship_monitor", 1)), _result(_run("flagship_monitor", 1))


def _units(metrics: list[dict]) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in metrics}


def test_prints_every_end_to_end_metric_with_its_unit(untraced_pairs):
    want = _units(BENCH["end_to_end"])
    for first, _ in untraced_pairs.values():
        assert {k: v["unit"] for k, v in first["metrics"].items()} == want
        assert all(v["value"] > 0 for v in first["metrics"].values())


def test_prints_every_per_layer_metric_with_its_unit(traced_pair):
    assert {k: v["unit"] for k, v in traced_pair[0]["metrics"].items()} == _units(BENCH["per_layer"])


def test_counts_repeat_exactly(untraced_pairs, traced_pair):
    for first, second in untraced_pairs.values():
        for name in COUNTS:
            assert first["metrics"][name]["value"] == second["metrics"][name]["value"], name
    a, b = (r["metrics"]["compiler.agg_exprs"]["value"] for r in traced_pair)
    assert a == b > 0


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in BENCH["paths"]:
        shutil.copytree(
            os.path.join(ROOT, path), tmp_path / path,
            ignore=shutil.ignore_patterns(".work", "__pycache__"),
        )
    proc = _run(WORKLOADS[0], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_process_tree_classes_this_process_as_driver():
    tree = process_tree({os.getpid(): (1, "python3", 0)})
    assert tree == {os.getpid(): "driver"}
    assert tree_cpu_s()["driver"] > 0


def test_layers_self_time_and_time_based_job_attribution():
    tr = spans.Tracer(enabled=True, op=0)
    S = spans.Span
    # op [0,10] > scan [1,9] > fused_agg [2,5]; group passes [6,8] (pool-thread jobs)
    tr.spans = [
        S("op", 100.0, 110.0, None, 0, 0),
        S("scan", 101.0, 109.0, 0, 0, 1),
        S("executor.fused_agg", 102.0, 105.0, 1, 0, 2),
        S("executor.group_passes", 106.0, 108.0, 1, 0, 3),
    ]
    tr.counts = {(0, "compiler.agg_exprs"): 7}
    log = spans.EventLog(
        job_submit={0: 103.0, 1: 106.5, 2: 107.0, 3: 99.0},
        job_stages={0: [0], 1: [1, 2], 2: [3, 4], 3: [5]},
        stages={0: spans.StageMetrics(run_s=2.0), 2: spans.StageMetrics(run_s=1.0),
                4: spans.StageMetrics(run_s=0.5)},
    )
    sample = OpSample(10.0, {"driver": 0.1, "jvm": 2.0, "pyworker": 0.0, "jit": 1.0}, 4, 3, 9)
    before, after = (OpSample(w, sample.cpu_s, 4, 3, 9) for w in (9.5, 9.9))
    samples = [(-1, False, before), (0, True, sample), (1, False, after)]
    metrics, table = layers.per_layer(tr, log, samples, {})
    value = {k: v["value"] for k, v in metrics.items()}
    assert value["executor.fused_agg_s"] == 3.0
    assert value["executor.fused_agg_jobs"] == 1
    assert value["executor.group_passes_jobs"] == 2  # job 3 predates the op
    assert value["spark.executor_run_s"] == 3.5
    assert value["spark.stage_reuse_ratio"] == 2 / 5  # stages 1 and 3 never ran
    assert value["compiler.agg_exprs"] == 7
    # traced wall minus the mean of the untraced ops around it
    assert value["trace.overhead_s"] == pytest.approx(0.3)
    # the op's and the scan's self time (2 + 3 s) is unattributed
    assert value["trace.coverage"] == pytest.approx(0.5)
    assert table["executor.fused_agg"]["share_of_op"] == pytest.approx(0.3)
