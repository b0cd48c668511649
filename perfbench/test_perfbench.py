"""The benchmark's own tests.

    python3 -m pytest perfbench -q -p no:cacheprovider

The gate tests are pure Python. The smoke tests run every workload on tiny
inputs (``--smoke``), timed and traced, and check that every metric named in
BENCHMARK.json is emitted with its unit; each takes about a minute.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import gates

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
with open(os.path.join(ROOT, "perfbench", "layer_map.json")) as f:
    LAYER_MAP = json.load(f)

RESULT = [(1, 10, 3.5), (2, 4, 2.25), (3, 7, 2.25), (4, 1, 0.5)]


def test_gate_accepts_identical_result():
    assert gates.ranked_exact(list(reversed(RESULT)), RESULT)


def test_gate_rejects_swapped_doc_ids():
    assert not gates.ranked_exact(gates.perturb(RESULT), RESULT)


def test_gate_rejects_score_drift_and_missing_rows():
    drift = [(r, d, s + 2e-9 if r == 3 else s) for r, d, s in RESULT]
    assert not gates.ranked_exact(drift, RESULT)
    assert not gates.ranked_exact(RESULT[:-1], RESULT)


def test_ranked_close_allows_order_only_inside_ties():
    exp = [(10, 3.5), (4, 2.25), (7, 2.25), (1, 0.5)]
    assert gates.ranked_close([(10, 3.5), (7, 2.25), (4, 2.25), (1, 0.5)], exp, 1e-9)
    assert not gates.ranked_close([(4, 3.5), (10, 2.25), (7, 2.25), (1, 0.5)], exp, 1e-9)


def test_ranked_close_tolerance_is_relative_above_one():
    # a float32 NSF score seen on a real run: 2.6e-6 relative, 1.0e-5 absolute
    assert gates.ranked_close([(2047, 3.8753972031176094)], [(2047, 3.875387202203274)], 1e-5)
    assert not gates.ranked_close([(1, 0.5)], [(1, 0.50002)], 1e-5)


def test_every_layer_metric_is_mapped():
    mapped = {n for entry in LAYER_MAP["map"] for n in entry["metrics"]}
    declared = {m["name"] for m in SPEC["per_layer"]}
    assert declared == mapped
    workloads = {w["name"] for w in SPEC["workloads"]}
    e2e = {m["name"] for m in SPEC["end_to_end"]}
    for entry in LAYER_MAP["map"]:
        for target in entry["moves"]:
            assert target["workload"] in workloads and set(target["metrics"]) <= e2e


def _run(args, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_emits_every_metric_with_its_unit(workload, trace):
    proc = _run(["--workload", workload, "--seed", "1", "--seconds", "1",
                 "--trace", str(trace), "--smoke"])
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    for v in result["metrics"].values():
        assert isinstance(v["value"], (int, float))
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(["--workload", "wand_serve", "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=tmp_path)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
