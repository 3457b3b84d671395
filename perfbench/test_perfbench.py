"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

A planted wrong result (one polygon's counts dropped, one committed job
bucket duplicated) must be counted as a failed operation and make the
command exit non-zero; without the program next to it the command must
fail before printing a result.
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
sys.path.insert(0, HERE)


def _run(cwd, workload, *extra, timeout=300):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", "0", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("workload", ["pip_pages", "tile_job"])
def test_planted_wrong_result_is_a_failed_operation(workload):
    proc = _run(ROOT, workload, "--plant")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert proc.returncode == 1
    assert result["correct"] is False
    assert 1 <= result["failed"] <= result["attempted"]


def test_without_the_program_it_fails_and_prints_no_result():
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        proc = _run(bare, "pip_pages", timeout=60)
        assert proc.returncode != 0
        assert '"correct"' not in proc.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def test_absent_metric_is_none_not_zero():
    from spans import metric_sum
    store = {"ArrowEvalPython|time to run Python workers": 2.0}
    assert metric_sum(store, "ArrowEvalPython", "time to run Python workers") == 2.0
    assert metric_sum(store, "Exchange", "shuffle bytes written") is None
    assert metric_sum(None, "ArrowEvalPython", "time to run Python workers") is None


def test_tree_cpu_counts_this_process():
    from spans import tree_cpu_s
    before = tree_cpu_s(os.getpid())
    x = 0
    for i in range(3_000_000):
        x += i
    assert tree_cpu_s(os.getpid()) > before


def test_parse_metric_units():
    from spans import parse_metric
    assert parse_metric("1.5 KiB") == 1536.0
    assert parse_metric("total (min, med, max (stageId: taskId))\n2.0 s (1 ms, ...)") == 2.0
    assert parse_metric("12,345") == 12345.0
    assert parse_metric("n/a") is None


def test_result_metrics_match_the_manifest():
    from run import END_TO_END, PER_LAYER
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        manifest = json.load(f)
    for key, metrics in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        assert {m["name"]: m["unit"] for m in manifest[key]} == metrics
