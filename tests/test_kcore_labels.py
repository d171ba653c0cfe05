"""k-core peeling and label operators vs python oracles."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from graphminer_spark.algorithms.kcore import kcore
from graphminer_spark.graph.build import symmetrize
from graphminer_spark.graph.labels import (
    label_frequency,
    nlf,
    reverse_label_index,
    with_synthetic_labels,
)
from graphminer_spark.oracles import brute_core_numbers
from tests.conftest import CountingCkpt, edges_df


def _random_graph(n, m, seed):
    rng = random.Random(seed)
    return [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]


def test_kcore_vs_peeling_oracle(spark):
    edges = _random_graph(120, 500, seed=2)
    oracle = brute_core_numbers(edges)
    sym = symmetrize(edges_df(spark, edges), dedup=False).persist()
    for k in (2, 3, 4):
        want = {v for v, c in oracle.items() if c >= k}
        got = {r["id"] for r in kcore(sym, k).collect()}
        assert got == want, f"k={k}"


def test_label_ops(spark):
    edges = [(0, 1), (0, 2), (1, 2), (2, 3)]
    sym = symmetrize(edges_df(spark, edges), dedup=False)
    verts = spark.range(4).select("id")
    lv = with_synthetic_labels(verts, n_classes=2)  # labels: id % 2
    freq = {r["vlabel"]: r["n"] for r in label_frequency(lv).collect()}
    assert freq == {0: 2, 1: 2}
    got = {
        (r["id"], r["vlabel"]): r["n"] for r in nlf(sym, lv).collect()
    }
    # vertex 2 (nbrs 0,1,3 → labels 0,1,1), vertex 0 (nbrs 1,2 → 1,0)
    assert got[(2, 1)] == 2 and got[(2, 0)] == 1
    assert got[(0, 0)] == 1 and got[(0, 1)] == 1
    idx = {r["vlabel"]: r["ids"] for r in reverse_label_index(lv).collect()}
    assert idx == {0: [0, 2], 1: [1, 3]}


def test_kcore_sparse_graph_rounds_within_oracle_unroll(spark):
    """The driver oracle (kcore_sql) unrolls 30 peeling rounds; the
    Spark fixpoint on the sparse sf0.001 graph must converge well
    inside that bound, and with adaptive k the peel must be non-trivial
    (some vertices removed, some kept)."""
    from graphminer_spark.graph.build import degrees
    from graphminer_spark.graph.tpch_edges import SPARSE_DIVISOR, tpch_edges

    edges = tpch_edges(spark, "/root/testdata/sf0.001", divisor=SPARSE_DIVISOR)
    sym = symmetrize(edges, dedup=False).persist()
    m, n = sym.count(), degrees(sym).count()
    k = max(2, (m // n) * 2 // 3)

    ckpt = CountingCkpt()

    core = kcore(sym, k=k, checkpointer=ckpt)
    n_core = core.count()
    assert 0 < n_core < n
    assert ckpt.rounds <= 30


def test_core_numbers_hindex_matches_peeling(spark):
    """The h-index fixpoint must equal brute coreness on graphs with
    varied structure (cliques + tails + random)."""
    from graphminer_spark.algorithms.kcore import core_numbers_hindex

    rng = random.Random(17)
    for seed in (1, 2):
        rng = random.Random(seed)
        edges = sorted(
            {
                (min(a, b), max(a, b))
                for a, b in (
                    (rng.randrange(50), rng.randrange(50)) for _ in range(400)
                )
                if a != b
            }
        )
        # graft a 6-clique with a pendant tail for a coreness spread
        edges += [(100 + i, 100 + j) for i in range(6) for j in range(i + 1, 6)]
        edges += [(105, 200), (200, 201)]
        oracle = brute_core_numbers(edges)
        sym = symmetrize(edges_df(spark, sorted(set(edges))), dedup=True)
        got = {r["id"]: r["core"] for r in core_numbers_hindex(sym).collect()}
        assert got == oracle, seed


def test_coreness_hindex_rounds_within_oracle_unroll(spark):
    """The graph_coreness oracle unrolls CORENESS_ROUNDS h-index
    rounds; the Spark fixpoint on the sparse sf0.001 graph must
    converge inside that bound and produce a non-trivial spread."""
    from graphminer_spark.algorithms.kcore import core_numbers_hindex
    from graphminer_spark.graph.tpch_edges import SPARSE_DIVISOR, tpch_edges

    import __spark_entry__ as entry_mod

    edges = tpch_edges(spark, "/root/testdata/sf0.001", divisor=SPARSE_DIVISOR)
    sym = symmetrize(edges, dedup=False).persist()

    ckpt = CountingCkpt()

    cn = core_numbers_hindex(sym, checkpointer=ckpt)
    cores = {r["core"] for r in cn.collect()}
    assert len(cores) > 1
    # the last round is the no-change confirmation; strict margin under
    # the oracle unroll
    assert ckpt.rounds < entry_mod.CORENESS_ROUNDS
