"""Superstep bookkeeping: one metrics record per superstep, the
driver's release of superseded states, a warm-up that can fail without
blocking session creation, and session defaults derived from the host."""

from __future__ import annotations

import logging
import random

import pytest
from pyspark.sql import functions as F

from graphminer_spark import checkpoint
from graphminer_spark.algorithms import anf
from graphminer_spark.algorithms.components import connected_components
from graphminer_spark.algorithms.hits import hits
from graphminer_spark.algorithms.kcore import kcore
from graphminer_spark.algorithms.labelprop import label_propagation
from graphminer_spark.algorithms.pagerank import pagerank
from graphminer_spark.algorithms.scc import strongly_connected_components
from graphminer_spark.checkpoint import CheckpointManager
from graphminer_spark.graph.build import symmetrize


def _graph(spark, n=40, m=160, seed=7):
    rng = random.Random(seed)
    edges = sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(m)})
    edges = [(a, b) for a, b in edges if a != b]
    return (
        spark.createDataFrame(edges, "src long, dst long"),
        spark.range(n).select("id"),
    )


def _iterations(ck):
    return [r["iteration"] for r in ck.metrics()]


def _anf_curve(sym, ck):
    """The ANF curve, its driver loop committing through ``ck`` (the
    read-outs take no manager of their own)."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(anf, "run_supersteps",
                   lambda _, *a, **kw: checkpoint.run_supersteps(ck, *a, **kw))
        return anf.neighborhood_function(sym, 3, include_h0=True).collect()


def test_one_record_per_superstep(spark, tmp_path):
    edges, verts = _graph(spark)
    sym = symmetrize(edges, dedup=True)

    # (name, run the loop on manager ck, check (records, run's result))
    cases = [
        ("cc", lambda ck: connected_components(edges, verts, checkpointer=ck).count(),
         # decimal(38,0) fingerprint sums land in the record as exact ints
         lambda recs, _: all(isinstance(r["h1"], int) for r in recs)),
        ("lp", lambda ck: label_propagation(sym, verts, 10, ck, until_stable=True),
         lambda recs, res: [r["changed"] for r in recs[1:]] == res.changed),
        ("kcore", lambda ck: kcore(sym, 3, checkpointer=ck).count(),
         lambda recs, _: recs[-1]["n"] == recs[-2]["n"] > 0),
        ("hits", lambda ck: hits(edges, verts, 4, ck).count(),
         lambda recs, _: len(recs) == 5 and all(r["sa"] > 0 for r in recs)),
        # outer peel rounds only: the inner fixpoints use their own manager
        ("scc", lambda ck: strongly_connected_components(edges, ck).count(),
         lambda recs, _: {r["algo"] for r in recs} == {"scc"}
         and recs[-1]["unassigned"] == 0 < recs[0]["unassigned"]),
        # one curve row per record, h = 0 from the start state's
        ("anf", lambda ck: _anf_curve(sym, ck),
         lambda recs, res: [r["sum_pow"] for r in recs] == [r["sum_pow"] for r in res]),
    ]
    for name, run, check in cases:
        ck = CheckpointManager(str(tmp_path / name), every=1)
        res = run(ck)
        its = _iterations(ck)
        assert its == list(range(len(its))) and len(its) > 1, name
        assert check(ck.metrics(), res), name

    ck = CheckpointManager(str(tmp_path / "pr"), every=1)
    res = pagerank(edges, verts, tol=1e-8, checkpointer=ck)
    recs = ck.metrics()
    assert _iterations(ck) == list(range(res.iterations + 1))
    assert [r["delta"] for r in recs[1:]] == res.deltas
    assert all("partitions" in r for r in recs)


def test_shared_manager_keeps_returned_state(spark):
    """A state returned by one loop survives a later loop on the same
    manager (each loop frees only the states it superseded)."""
    edges, _ = _graph(spark)
    sym = symmetrize(edges, dedup=True)
    ck = CheckpointManager(None)
    core = kcore(sym, 3, checkpointer=ck)
    connected_components(edges, checkpointer=ck).count()
    adj: dict[int, set[int]] = {}
    for r in sym.collect():
        adj.setdefault(r["src"], set()).add(r["dst"])
    while low := [v for v, ns in adj.items() if len(ns) < 3]:
        for v in low:
            for u in adj.pop(v):
                adj.get(u, set()).discard(v)
    assert {r["id"] for r in core.collect()} == set(adj)


def test_final_checkpoint_amends_its_superstep_record(spark, tmp_path):
    """A loop stopping between durable saves checkpoints its last state
    once more; that save joins the superstep's record."""
    edges, verts = _graph(spark)
    ck = CheckpointManager(str(tmp_path / "pr"), every=4)
    res = pagerank(edges, verts, tol=0.0, max_iter=6, checkpointer=ck)
    recs = ck.metrics()
    assert _iterations(ck) == list(range(7))
    last = recs[-1]
    assert last["final"] and last["delta"] == res.deltas[-1]
    assert last["checkpoint"].endswith("iter=000006")


@pytest.mark.parametrize("durable", [False, True], ids=["plain", "durable"])
def test_release_chain_persistent_rdds(spark, tmp_path, durable):
    """12 supersteps + the start state are 13 commits; the driver frees
    the localCheckpoint states among them once they are two commits
    old, under any manager the caller supplies, and keeps the last two
    (the returned state and its predecessor). A durable manager off its
    cadence commits those supersteps locally too. The persisted
    edge/vertex inputs are released. The manager holds every state it
    returns, so the count does not depend on when the JVM
    garbage-collects unreachable states."""

    class Holding(CheckpointManager):
        def save_and_agg(self, *args, **kwargs):
            out, row = super().save_and_agg(*args, **kwargs)
            self.held.append(out)
            return out, row

    edges, verts = _graph(spark)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    ck = Holding(str(tmp_path / "pr") if durable else None, every=100)
    ck.held = []
    res = pagerank(edges, verts, tol=0.0, max_iter=12, checkpointer=ck)
    assert res.iterations == 12
    assert len(set(jsc.getPersistentRDDs().keySet()) - before) == 2
    assert abs(res.ranks.agg(F.sum("rank")).collect()[0][0] - 1.0) < 1e-9


def test_failed_warmup_does_not_block_session(spark, monkeypatch, caplog):
    from graphminer_spark import session

    def boom(*_):
        raise RuntimeError("warm-up failed")

    monkeypatch.setattr(session, "_jit_warmup", boom)
    monkeypatch.setattr(session, "_WARMED_APP_IDS", set())
    with caplog.at_level(logging.WARNING, logger="graphminer_spark.session"):
        s = session.get_spark("graphminer-tests", cores=8, shuffle_partitions=8)
    assert s is spark
    assert "warm-up failed" in caplog.text


def test_release_failure_is_logged_once(caplog):
    class Gone:
        @property
        def _jdf(self):
            raise RuntimeError("state already gone")

    warned = False
    with caplog.at_level(logging.WARNING, logger="graphminer_spark.checkpoint"):
        for _ in range(6):
            warned = checkpoint._release(Gone(), warned)
    assert [r.getMessage().startswith("run_supersteps") for r in caplog.records] == [True]


def test_session_defaults_fit_the_host(monkeypatch):
    """Cores default to every CPU and the driver to a quarter of
    physical memory, capped at 24g."""
    from graphminer_spark import session

    gib = 1 << 30
    for phys, mem in [(15 * gib, "3840m"), (256 * gib, "24576m")]:
        sizes = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": phys // 4096}
        monkeypatch.setattr(session.os, "sysconf", sizes.__getitem__)
        monkeypatch.setattr(session.os, "cpu_count", lambda: 4)
        assert session._host_defaults() == (4, mem)
