"""Tests of the benchmark itself: python3 -m pytest perfbench -q

The last test runs each workload twice with tracing on (a few minutes)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import run  # noqa: E402


def test_inputs_are_a_function_of_the_seed():
    a, b = corpus.make_corpus(5, 60), corpus.make_corpus(5, 60)
    assert a.rows == b.rows and a.planted == b.planted
    assert corpus.make_corpus(6, 60).rows != a.rows
    assert corpus.make_queries(5, a, 50) == corpus.make_queries(5, b, 50)
    assert corpus.make_gazetteer(5, a, 100) == corpus.make_gazetteer(5, b, 100)
    for i, start, end, phrase in a.planted:
        assert a.rows[i][4][start:end] == phrase


def test_gazetteer_names_never_overlap_planted_phrases():
    c = corpus.make_corpus(3, 80)
    words = {w for p in corpus.PLANTED_PHRASES for w in p.split()}
    names = [n for _id, n in corpus.make_gazetteer(3, c, 300)]
    assert set(corpus.PLANTED_PHRASES) <= set(names)
    assert all(n in corpus.PLANTED_PHRASES or not words & set(n.split()) for n in names)


def test_benchmark_json_lists_what_the_runs_print():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == {"index-build", "query"}
    assert [m["name"] for m in spec["end_to_end"]] == ["setup_s", "items_per_s", "call_p50_ms"]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == run.per_layer_spec()


def _traced(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["index-build", "query"])
def test_spark_counts_repeat_exactly(workload):
    first, second = _traced(workload, 11), _traced(workload, 11)
    assert first["correct"] and second["correct"]
    counts = [
        k for k in first["metrics"]
        if k.endswith((".jobs", ".stages", ".tasks", "spark_jobs_per_batch"))
    ]
    assert counts
    assert any(first["metrics"][k]["value"] for k in counts)
    for k in counts:
        assert first["metrics"][k] == second["metrics"][k], k
