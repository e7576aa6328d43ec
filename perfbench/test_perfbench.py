"""Tests of the benchmark itself: deterministic inputs, metric names that
match BENCHMARK.json, span self times, and one small run of each workload.

    python3 -m pytest perfbench -q
"""

import json
import math
import os
import shutil
import subprocess
import sys
import time

import pytest

from perfbench import gen, run
from perfbench.trace import Tracer

TINY = run.Sizes(base_convs=60, delta_convs=10, delete_convs=3, population=512)


def _spec():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_generators_are_deterministic_per_seed():
    pd_testing = pytest.importorskip("pandas.testing")
    pd_testing.assert_frame_equal(gen.corpus(3, 20), gen.corpus(3, 20))
    assert not gen.corpus(3, 20)["text"].equals(gen.corpus(4, 20)["text"])
    pd_testing.assert_frame_equal(gen.delta(3, 20, 5), gen.delta(3, 20, 5))
    assert min(gen.delta(3, 20, 5)["conv_id"]) > max(gen.corpus(3, 20)["conv_id"])
    pops = gen.query_population(3, 500)
    assert pops == gen.query_population(3, 500)
    assert pops != gen.query_population(4, 500)
    assert len(set(pops["light"]) | set(pops["heavy"])) == 500
    assert gen.request_stream(3, pops, 300) == gen.request_stream(3, pops, 300)
    assert gen.deleted_convs(3, 100, 7) == gen.deleted_convs(3, 100, 7)


def test_request_stream_follows_the_schedule():
    pops = gen.query_population(5, 2000)
    heavy = set(pops["heavy"])
    stream = gen.request_stream(5, pops, 5000)
    pages = [start > 1 for _, start in stream]
    assert sum(pages) == len(stream) // 5
    assert {start for _, start in stream} == {1, 11, 21}
    # exactly 2 heavy requests in every window of ten (1 new, 1 page)
    for w in range(0, len(stream), 10):
        assert sum(q in heavy for q, _ in stream[w:w + 10]) == 2
    firsts = [q for q, start in stream if start == 1 and q in heavy]
    # Zipf: the most popular query is requested far more than a mid-rank one
    assert firsts.count(pops["heavy"][0]) > 5 * max(firsts.count(pops["heavy"][250]), 1)


def test_metric_names_match_benchmark_json():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS
    assert spec["paths"] == ["perfbench"]


def test_percentile_needs_ten_samples_beyond():
    assert run.percentile(list(range(1, 101)), 0.90) == 90
    assert run.percentile(list(range(200, 0, -1)), 0.95) == 190
    with pytest.raises(ValueError):
        run.percentile(list(range(1, 100)), 0.90)


def test_self_time_subtracts_children():
    tr = Tracer()
    tr.request = 1
    with tr.span("outer"):
        time.sleep(0.02)
        with tr.span("inner"):
            time.sleep(0.03)
    (outer,) = tr.named("outer")
    (inner,) = tr.named("inner")
    assert inner.parent == outer.id and inner.request == 1
    (self_s,) = tr.self_times("outer")
    assert abs(self_s - (outer.duration - inner.duration)) < 1e-9
    assert 0.015 < self_s < 0.03 + 0.02


def test_wrap_and_unwrap_restore_the_original():
    class Target:
        def f(self, x):
            return x + 1

    original = Target.__dict__["f"]
    tr = Tracer()
    tr.wrap(Target, "f", "target.f", count=lambda a, r: r)
    assert Target().f(2) == 3
    assert tr.spans[0].name == "target.f" and tr.spans[0].n == 3
    tr.unwrap_all()
    assert Target.__dict__["f"] is original


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(run.ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "churn", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout == ""


@pytest.mark.parametrize(
    "workload,trace", [("serve_zipf", False), ("churn", True)]
)
def test_smoke(workload, trace):
    result = run.run(workload, seed=7, seconds=1.0, trace=trace, sizes=TINY)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= run.MIN_TIMED_REQUESTS
    names = run.LAYER_UNITS if trace else run.E2E_UNITS
    assert set(result["metrics"]) == set(names)
    for name, m in result["metrics"].items():
        assert m["unit"] == names[name]
        assert math.isfinite(m["value"]), name
    if trace:
        assert result["metrics"]["incremental.append_s"]["value"] > 0
        assert result["metrics"]["query_local.search_ms"]["value"] > 0
    else:
        assert result["metrics"]["render_p95_ms"]["value"] > 0
