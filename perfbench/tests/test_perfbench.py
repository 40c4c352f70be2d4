"""Tests of the benchmark itself.  Run from the repository root:

    python3 -m pytest perfbench/tests -q

The smoke runs start one Spark session each, at sf0.001, and take a few
minutes in all.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np
import pytest

from perfbench.run import cpu_s, tail_percentile
from perfbench.workloads import WORKLOADS, auc

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _units(metrics: list[dict]) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in metrics}


def _run(workload: str, *extra: str) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--scale", "0.001", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize(
    "n, want",
    [(0, None), (19, None), (20, 50), (99, 50), (100, 90), (999, 90), (1000, 99),
     (9999, 99), (10000, 99.9), (10**6, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


def test_auc_matches_pairwise_definition():
    rng = np.random.default_rng(0)
    labels = rng.integers(0, 2, 300)
    scores = np.round(rng.random(300), 1)  # many ties
    pos, neg = scores[labels == 1], scores[labels == 0]
    pairs = (pos[:, None] > neg[None, :]).mean() + 0.5 * (pos[:, None] == neg[None, :]).mean()
    assert auc(labels, scores) == pytest.approx(pairs)


def test_pass_count_depends_on_seconds_only():
    query_mix, pipelines = WORKLOADS["query_mix"], WORKLOADS["pipelines"]
    assert (query_mix.passes(12), pipelines.passes(12)) == (6, 1)
    assert query_mix.passes(0.1) == pipelines.passes(0.1) == 1


def test_cpu_s_counts_this_process():
    c0 = cpu_s(os.getpid())
    t0 = time.process_time()
    while time.process_time() - t0 < 0.3:
        pass
    assert cpu_s(os.getpid()) - c0 >= 0.25


def test_spec_names_the_workloads():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_prints_end_to_end_metrics(workload):
    res = _run(workload, "--trace", "0")
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert {k: v["unit"] for k, v in res["metrics"].items()} == _units(SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_run_prints_per_layer_metrics_and_counts_corrupt_output():
    res = _run("query_mix", "--trace", "1", "--corrupt-output")
    assert {k: v["unit"] for k, v in res["metrics"].items()} == _units(SPEC["per_layer"])
    assert not res["correct"] and res["failed"] == 1
