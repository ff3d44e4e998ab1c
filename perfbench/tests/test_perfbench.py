"""The benchmark's own tests. The benchmark's corpus is already tiny
(about sf0.001 at replicate 1), so they run it at its own size.

    python -m pytest perfbench/tests -q

Each workload runs once per mode (about a minute each on 4 cores): every
named metric must be emitted with its unit, every correctness check must
pass, and the traced run's status-store harvest must attribute at least
90% of executor run time to named stages.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import spec  # noqa: E402

def _bench(workload: str, trace: int, cwd: str = ROOT, seed: int = 42):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "5", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_benchmark_json_matches_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in bench["workloads"]] == list(spec.WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]} == spec.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == spec.PER_LAYER
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    assert max(m["bound"] for m in bench["end_to_end"]) == next(
        m["bound"] for m in bench["end_to_end"] if m["name"] == "setup_s")


def test_layer_targets_name_known_metrics():
    for layers, (e2e, shows_on, bypassed_on) in spec.LAYER_TARGETS.items():
        for pattern in layers.split():
            prefix = pattern[:-1] if pattern.endswith("*") else pattern
            assert any(name.startswith(prefix) for name in spec.PER_LAYER), pattern
        assert set(e2e) <= set(spec.END_TO_END)
        assert set(shows_on) | set(bypassed_on) <= set(spec.WORKLOADS)


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _bench("hot_block", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not proc.stdout.strip()


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(spec.WORKLOADS))
def test_workload_runs_and_passes_its_checks(workload, trace):
    proc = _bench(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, proc.stderr[-3000:]
    assert result["failed"] == 0 and result["attempted"] >= 1
    expected = spec.PER_LAYER if trace else spec.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        k: unit for k, (unit, _better) in expected.items()}
    values = {k: v["value"] for k, v in result["metrics"].items()}
    if trace:
        assert values["trace.task_attributed_ratio"] >= 0.9
        assert values["trace.wall_attributed_ratio"] >= 0.9
        assert values["score.wall_s"] > 0 and values["cluster.wall_s"] > 0
        if workload == "hot_block":
            assert values["blocking.oversize_keys"] >= 1
            assert values["sign.wall_s"] > 0
    else:
        assert values["pairwise_f1"] >= 0.99 and values["pass_ratio"] == 1.0
        assert all(values[k] > 0 for k in ("setup_s", "wall_s", "docs_per_s", "cpu_s"))
