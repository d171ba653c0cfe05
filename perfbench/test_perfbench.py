"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from graphminer_spark import oracles  # noqa: E402
from tracing import Tracer, group_counters  # noqa: E402


def _small_expectations():
    canon = inputs.canonical(inputs.relabel(inputs.random_graph(60, 240, 7), 3))
    ids = np.unique(canon)
    return canon, ids, oracle.graph_expectations(ids, canon, canon, lp_iter=4)


class _StubJsc:
    def getPersistentRDDs(self):
        return _StubJavaMap()


class _StubJavaMap:
    def size(self):
        return 0


class _StubContext:
    _jsc = _StubJsc()


class _StubSpark:
    sparkContext = _StubContext()


def _pass() -> workloads.Pass:
    return workloads.Pass(_StubSpark(), Tracer("test"), traced=False, work=HERE, index=0)


def test_correct_outputs_pass_their_checks():
    canon, ids, exp = _small_expectations()
    assert oracle.check_ranks(pd.DataFrame({"id": ids, "rank": exp["pr"]}), ids, exp["pr"]) is None
    assert oracle.check_labels(pd.DataFrame({"id": ids, "component": exp["cc"]}), "component", ids, exp["cc"]) is None
    tri = pd.DataFrame(exp["tri_edges"], columns=["src", "dst", "tri_cnt"])
    assert oracle.check_triangles(int(exp["tri_total"]), tri, int(exp["tri_total"]), exp["tri_edges"]) is None


def test_corrupted_outputs_count_as_failed():
    canon, ids, exp = _small_expectations()
    flipped = exp["cc"].copy()
    flipped[5] = flipped[5] + 1
    off = exp["pr"].copy()
    off[3] += 1e-5
    tri = exp["tri_edges"].copy()
    tri[0, 2] += 1
    p = _pass()
    p.op("components", lambda: pd.DataFrame({"id": ids, "component": flipped}),
         lambda df: oracle.check_labels(df, "component", ids, exp["cc"]))
    p.op("pagerank", lambda: pd.DataFrame({"id": ids, "rank": off}),
         lambda df: oracle.check_ranks(df, ids, exp["pr"]))
    p.op("triangles", lambda: pd.DataFrame(tri, columns=["src", "dst", "tri_cnt"]),
         lambda df: oracle.check_triangles(int(exp["tri_total"]), df, int(exp["tri_total"]), exp["tri_edges"]))
    assert [bool(r.error) for r in p.records] == [True, True, True]


def test_raising_operator_counts_as_failed_and_stops_the_pass():
    p = _pass()

    def boom():
        raise RuntimeError("executor lost")

    with pytest.raises(workloads.OpFailed):
        p.op("graph", boom)
    assert p.records[0].error.startswith("raised RuntimeError")


def test_seed_changes_input_but_not_structure():
    a = workloads.make_inputs("pattern_mining", 1)
    b = workloads.make_inputs("pattern_mining", 2)
    for key in ("fsm", "pent"):
        assert not np.array_equal(a[key], b[key])
        ca, cb = inputs.canonical(a[key]), inputs.canonical(b[key])
        assert len(ca) == len(cb)
        deg_a = np.sort(np.unique(ca, return_counts=True)[1])
        deg_b = np.sort(np.unique(cb, return_counts=True)[1])
        assert np.array_equal(deg_a, deg_b)
        labels_a = np.sort(np.unique(ca) % inputs.LABEL_CLASSES)
        assert np.array_equal(labels_a, np.sort(np.unique(cb) % inputs.LABEL_CLASSES))
    small = inputs.random_graph(300, 3000, 11)
    ta, _ = oracles.brute_triangles([tuple(e) for e in inputs.relabel(small, 1).tolist()])
    tb, _ = oracles.brute_triangles([tuple(e) for e in inputs.relabel(small, 2).tolist()])
    assert ta == tb > 0
    assert np.array_equal(workloads.make_inputs("pattern_mining", 1)["fsm"], a["fsm"])


def test_crawl_seed_changes_the_corpus():
    ids1, e1 = oracle.crawl_graph(256, 1, workloads.CRAWL_HUB_SKEW, workloads.CRAWL_MAX_LINKS)
    ids2, e2 = oracle.crawl_graph(256, 2, workloads.CRAWL_HUB_SKEW, workloads.CRAWL_MAX_LINKS)
    assert np.array_equal(ids1, ids2)  # same URLs, different links
    assert not np.array_equal(e1, e2)


def test_numpy_pagerank_matches_the_loop_reference():
    canon = inputs.random_graph(40, 120, 5)
    ids = np.arange(40)
    ranks, _ = oracle.pagerank(ids, canon, tol=1e-12, max_iter=500)
    ref = oracles.dense_pagerank(40, [tuple(e) for e in canon.tolist()], tol=1e-12, max_iter=500)
    assert np.allclose(ranks, ref, atol=1e-12)


def test_xxhash64_known_answers():
    # XXH64 reference vectors (seed 0), as signed 64-bit values
    assert oracle.xxhash64(b"", seed=0) == 0xEF46DB3751D8E999 - (1 << 64)
    assert oracle.xxhash64(b"abc", seed=0) == 0x44BC2CF5AD770999


def test_printed_metric_names_are_declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.E2E
    assert layer == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert run.WORKLOADS == tuple(workloads.PASSES) == tuple(workloads.OPS)


def test_event_log_counters_per_group():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0],
         "Properties": {"spark.job.description": "session warmup (JIT)"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "g"}},
        *[
            {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
             "Task Info": {"Launch Time": 2000, "Finish Time": 2000 + d},
             "Task Metrics": {"Executor Run Time": d, "Executor CPU Time": d * 1e6, "JVM GC Time": 1,
                              "Shuffle Write Metrics": {"Shuffle Bytes Written": 10}}}
            for d in (100, 100, 400)
        ],
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1, "Accumulables": []}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2500},
    ]
    out = group_counters(events, {"g": 1.5})
    g = out["groups"]["g"]
    assert out["warmup_jobs"] == 1
    assert (g["jobs"], g["stages"], g["tasks"], g["shuffle_write_bytes"]) == (1, 1, 3, 30)
    assert g["task_skew_max"] == pytest.approx(4.0)
    assert g["driver_gap_s"] == pytest.approx(1.0)
    assert g["executor_run_s"] == pytest.approx(0.6)
