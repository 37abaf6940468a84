"""Tests of the benchmark harness itself.

    python -m pytest perfbench/tests -q

The input tests are pure numpy. The smoke tests start Spark: each runs
``perfbench/run.py`` at the tiny size (about a minute per run).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import data  # noqa: E402
from perfbench.layers import END_TO_END, per_layer_names  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def _churn(seed):
    return data.churn_inputs(seed, 200, 3, 10, 10, 2, 4)


def _docs(seed):
    return data.curation_inputs(seed, 150)


@pytest.mark.parametrize("make", [_churn, _docs])
def test_same_seed_same_inputs(make):
    assert make(7).digest() == make(7).digest()


@pytest.mark.parametrize("make", [_churn, _docs])
def test_other_seed_other_inputs(make):
    assert make(7).digest() != make(8).digest()


def test_churn_schedule_is_consistent():
    inp = _churn(3)
    live = set(range(len(inp.corpus)))
    for rnd in inp.rounds:
        assert set(rnd.delete_ids.tolist()) <= live      # deletes hit live ids
        live -= set(rnd.delete_ids.tolist())
        live |= set(rnd.insert_ids.tolist())
        assert set(rnd.probe_ids) <= set(rnd.insert_ids.tolist())


def test_injected_duplicates_are_near():
    from perfbench import checks

    inp = _docs(3)
    assert inp.dup_pairs
    for a, b in inp.dup_pairs:
        assert a < b
        assert checks.jaccard(checks.shingle_set(inp.texts[a]),
                              checks.shingle_set(inp.texts[b])) > 0.3


def test_benchmark_json_matches_declared_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [(m["name"], m["unit"], m["better"], m["bound"])
            for m in bench["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == per_layer_names()
    assert len(bench["per_layer"]) <= 128
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


def _run(workload, seed, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
         str(seed), "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = [json.loads(x) for x in p.stdout.splitlines() if x.startswith("{")]
    res = lines[-1]
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    info = {k: v for d in lines[:-1] for k, v in d.items()}
    return res, info


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_tiny_run_reports_declared_metrics(workload):
    plain, info = _run(workload, 5, 0)
    assert plain["correct"] and plain["failed"] == 0
    assert {k: v["unit"] for k, v in plain["metrics"].items()} == {
        n: u for n, u, _b, _bd in END_TO_END}
    assert all(v["value"] > 0 for v in plain["metrics"].values())

    traced = [_run(workload, 5, 1) for _ in range(2)]
    declared = dict(per_layer_names())
    for res, tinfo in traced:
        assert {k: v["unit"] for k, v in res["metrics"].items()} == declared
        # same seed: same inputs and the same quality, traced or not
        assert tinfo["env"]["input_digest"] == info["env"]["input_digest"]
        assert (tinfo["traced_end_to_end"]["quality"]["value"]
                == plain["metrics"]["quality"]["value"])
    jobs = [{k: v["value"] for k, v in res["metrics"].items() if k.endswith(".jobs")}
            for res, _ in traced]
    assert any(v > 0 for v in jobs[0].values())
    # Job counts repeat exactly, except DBSCAN's: identical calls on
    # identical input were seen to run 51 or 52 jobs (a finding about the
    # operator, recorded in perfbench/README.md), so it may differ by one.
    racy = "ml.dbscan.dbscan.jobs"
    assert abs(jobs[0].pop(racy) - jobs[1].pop(racy)) <= 1
    assert jobs[0] == jobs[1]
