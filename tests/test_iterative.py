"""CC / PageRank / LP vs pure-python oracles, plus checkpoint/resume
and parallelism-invariance (FIXTURES.md §3, §5)."""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from graphminer_spark.algorithms.components import connected_components
from graphminer_spark.algorithms.labelprop import label_propagation
from graphminer_spark.algorithms.pagerank import pagerank, pagerank_csr
from graphminer_spark.checkpoint import CheckpointManager
from graphminer_spark.graph.build import csr_blocks, symmetrize
from graphminer_spark.oracles import (
    dense_pagerank,
    sync_label_propagation,
    union_find_cc,
)
from tests.conftest import CountingCkpt, edges_df

TWO_CLIQUES = [
    (a, b) for c in (0, 5) for a in range(c, c + 5) for b in range(a + 1, c + 5)
]


def _random_graph(n, m, seed):
    rng = random.Random(seed)
    return [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]


def _verts(spark, n):
    return spark.range(n).select(F.col("id"))


# ----------------------------------------------------------------- CC


def test_cc_two_cliques_plus_isolated(spark):
    df = edges_df(spark, TWO_CLIQUES)
    verts = _verts(spark, 12)  # 10,11 isolated
    got = {
        (r["id"], r["component"])
        for r in connected_components(df, verts).collect()
    }
    expect = {(i, 0) for i in range(5)} | {(i, 5) for i in range(5, 10)}
    expect |= {(10, 10), (11, 11)}
    assert got == expect


@pytest.mark.parametrize("seed", [3, 17])
def test_cc_random_vs_union_find(spark, seed):
    # sparse → many components
    edges = _random_graph(300, 150, seed)
    verts = list(range(300))
    oracle = union_find_cc(verts, edges)
    df = edges_df(spark, edges)
    vdf = _verts(spark, 300)
    got = {r["id"]: r["component"] for r in connected_components(df, vdf).collect()}
    assert got == oracle


def test_cc_long_path(spark):
    # path graph: worst case for hash-min diameter; alternating algo
    # must converge in O(log^2 n) rounds
    n = 64
    df = edges_df(spark, [(i, i + 1) for i in range(n - 1)])
    labels = connected_components(df).collect()
    assert {r["component"] for r in labels} == {0}
    assert len(labels) == n


# ------------------------------------------------------------- PageRank


def test_pagerank_cycle_uniform(spark):
    n = 10
    edges = [(i, (i + 1) % n) for i in range(n)]
    df = spark.createDataFrame(edges, "src long, dst long")
    res = pagerank(df, _verts(spark, n), tol=1e-10)
    ranks = {r["id"]: r["rank"] for r in res.ranks.collect()}
    assert res.converged
    assert np.allclose(list(ranks.values()), 1.0 / n, atol=1e-8)


def test_pagerank_dangling_mass(spark):
    # chain 0→1→2→3 with 3 dangling: sum(rank) must stay 1.0
    df = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    res = pagerank(df, _verts(spark, 4), tol=1e-9)
    total = res.ranks.agg(F.sum("rank")).collect()[0][0]
    assert abs(total - 1.0) < 1e-9
    oracle = dense_pagerank(4, [(0, 1), (1, 2), (2, 3)], tol=1e-9)
    got = {r["id"]: r["rank"] for r in res.ranks.collect()}
    assert np.allclose([got[i] for i in range(4)], oracle, atol=1e-6)


def test_pagerank_random_vs_dense_oracle(spark):
    n, m = 80, 400
    edges = list({e for e in _random_graph(n, m, 11) if e[0] != e[1]})
    df = spark.createDataFrame(edges, "src long, dst long")
    res = pagerank(df, _verts(spark, n), tol=1e-8)
    oracle = dense_pagerank(n, edges, tol=1e-10)
    got = {r["id"]: r["rank"] for r in res.ranks.collect()}
    assert np.allclose([got[i] for i in range(n)], oracle, atol=1e-6)


def test_pagerank_csr_matches_join_impl(spark):
    n, m = 60, 300
    edges = list({e for e in _random_graph(n, m, 23) if e[0] != e[1]})
    df = spark.createDataFrame(edges, "src long, dst long")
    verts = _verts(spark, n)
    blocks = csr_blocks(df, num_blocks=4)
    res_csr = pagerank_csr(blocks, verts, tol=1e-8)
    oracle = dense_pagerank(n, edges, tol=1e-10)
    got = {r["id"]: r["rank"] for r in res_csr.ranks.collect()}
    assert np.allclose([got[i] for i in range(n)], oracle, atol=1e-6)


def test_pagerank_checkpoint_resume(spark, tmp_path):
    n, m = 50, 250
    edges = list({e for e in _random_graph(n, m, 5) if e[0] != e[1]})
    df = spark.createDataFrame(edges, "src long, dst long")
    verts = _verts(spark, n)
    full = pagerank(df, verts, tol=1e-10, max_iter=30)

    ck = CheckpointManager(str(tmp_path / "pr"), every=1)
    partial = pagerank(df, verts, tol=1e-10, max_iter=5, checkpointer=ck)
    assert not partial.converged
    ck2 = CheckpointManager(str(tmp_path / "pr"), every=1)
    resumed = pagerank(
        df, verts, tol=1e-10, max_iter=30, checkpointer=ck2, resume=True
    )
    a = {r["id"]: r["rank"] for r in full.ranks.collect()}
    b = {r["id"]: r["rank"] for r in resumed.ranks.collect()}
    assert np.allclose(
        [a[i] for i in range(n)], [b[i] for i in range(n)], atol=1e-9
    )
    # metrics.jsonl carries per-partition lineage + convergence deltas
    recs = ck2.metrics()
    assert any("partitions" in r for r in recs)
    assert any(r.get("delta", 1) < 1e-10 for r in recs)


# ------------------------------------------------------------------- LP


def test_lp_matches_oracle(spark):
    edges = list({e for e in _random_graph(100, 300, 9) if e[0] != e[1]})
    verts = list(range(100))
    for iters in (1, 2, 4):
        oracle = sync_label_propagation(verts, edges, iters)
        df = symmetrize(edges_df(spark, edges), dedup=False)
        got = {
            r["id"]: r["label"]
            for r in label_propagation(df, _verts(spark, 100), n_iter=iters).labels.collect()
        }
        assert got == oracle, f"iters={iters}"


def test_lp_two_cliques_converges(spark):
    df = symmetrize(edges_df(spark, TWO_CLIQUES), dedup=False)
    res = label_propagation(
        df, _verts(spark, 10), n_iter=20, until_stable=True
    )
    labels = {r["id"]: r["label"] for r in res.labels.collect()}
    assert set(labels[i] for i in range(5)) == {0}
    assert set(labels[i] for i in range(5, 10)) == {5}


def test_personalized_pagerank_semantics(spark):
    """PPR invariants: mass conservation, zero rank on components
    unreachable from the source set, and agreement with a dense numpy
    PPR power iteration."""
    import numpy as np

    # component A: 0-1-2 path + dangling 2; component B: 3<->4 (no sources)
    edges = [(0, 1), (1, 2), (3, 4), (4, 3)]
    n, n_iter, d = 5, 8, 0.85
    verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
    srcs = spark.createDataFrame([(0,)], "id long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    res = pagerank(edf, verts, damping=d, tol=0.0, max_iter=n_iter, sources=srcs)
    got = {r["id"]: r["rank"] for r in res.ranks.collect()}

    # dense reference
    s = np.zeros(n); s[0] = 1.0
    out_deg = np.zeros(n)
    for a, _ in edges:
        out_deg[a] += 1
    r = s.copy()
    for _ in range(n_iter):
        contrib = np.zeros(n)
        for a, b in edges:
            contrib[b] += r[a] / out_deg[a]
        dangling = r[out_deg == 0].sum()
        r = (1 - d) * s + d * (contrib + dangling * s)
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-12, i
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert got[3] == 0.0 and got[4] == 0.0


def test_hits_vs_dense(spark):
    """HITS matches a dense numpy power iteration with the same L1
    half-step normalization."""
    import numpy as np

    from graphminer_spark.algorithms.hits import hits

    edges = [(0, 1), (0, 2), (1, 2), (3, 2), (2, 0)]
    n, iters = 4, 5
    verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: (r["hub"], r["auth"]) for r in hits(edf, verts, iters).collect()}

    A = np.zeros((n, n))
    for a, b in edges:
        A[a, b] = 1.0
    h = np.full(n, 1.0 / n)
    a = np.full(n, 1.0 / n)
    for _ in range(iters):
        a = A.T @ h
        a = a / a.sum()
        h = A @ a
        h = h / h.sum()
    for i in range(n):
        assert abs(got[i][0] - h[i]) < 1e-12
        assert abs(got[i][1] - a[i]) < 1e-12


def test_clustering_coefficient_vs_brute(spark):
    import itertools
    import random as _random

    from graphminer_spark.algorithms.hits import clustering_coefficient
    from graphminer_spark.graph.build import build_dag
    from tests.conftest import edges_df

    rng = _random.Random(23)
    canon = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in ((rng.randrange(40), rng.randrange(40)) for _ in range(300))
            if a != b
        }
    )
    nbrs: dict[int, set[int]] = {}
    for a, b in canon:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    df = edges_df(spark, canon)
    got = {
        r["id"]: (r["tri_cnt"], r["lcc_bp"])
        for r in clustering_coefficient(df, build_dag(df)).collect()
    }
    for v, ns in nbrs.items():
        d = len(ns)
        if d < 2:
            assert v not in got
            continue
        t = sum(1 for x, y in itertools.combinations(sorted(ns), 2) if y in nbrs[x])
        assert got[v] == (t, (20000 * t) // (d * (d - 1))), v


def test_bfs_distances_vs_brute(spark):
    """Hash-min BFS equals a python BFS, stays inside the oracle
    unroll on the gate graph, and unreached vertices are absent."""
    import collections
    import random as _random

    from graphminer_spark.algorithms.components import bfs_distances
    from graphminer_spark.graph.build import symmetrize
    from tests.conftest import edges_df

    rng = _random.Random(29)
    canon = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in ((rng.randrange(60), rng.randrange(60)) for _ in range(120))
            if a != b
        }
    )
    canon += [(100, 101)]  # unreachable island
    sym_pairs = canon + [(b, a) for a, b in canon]
    adj: dict[int, list[int]] = {}
    for a, b in sym_pairs:
        adj.setdefault(a, []).append(b)
    want = {0: 0}
    q = collections.deque([0])
    while q:
        u = q.popleft()
        for v in adj.get(u, []):
            if v not in want:
                want[v] = want[u] + 1
                q.append(v)
    sym = symmetrize(edges_df(spark, canon), dedup=False)
    got = {r["id"]: r["dist"] for r in bfs_distances(sym, source=0).collect()}
    assert got == want
    assert 100 not in got and 101 not in got


def test_bfs_rounds_within_oracle_unroll(spark):
    from graphminer_spark.algorithms.components import bfs_distances
    from graphminer_spark.graph.build import symmetrize
    from graphminer_spark.graph.tpch_edges import SPARSE_DIVISOR, tpch_edges

    import __spark_entry__ as entry_mod

    edges = tpch_edges(spark, "/root/testdata/sf0.001", divisor=SPARSE_DIVISOR)
    sym = symmetrize(edges, dedup=False)

    ckpt = CountingCkpt()

    d = bfs_distances(sym, source=0, checkpointer=ckpt)
    assert d.count() > 1
    assert ckpt.rounds < entry_mod.BFS_ROUNDS


def test_weighted_pagerank_vs_dense(spark):
    """Weighted PR matches a dense numpy iteration; uniform weights
    reduce to plain PageRank."""
    import numpy as np

    edges = [(0, 1, 3), (0, 2, 1), (1, 2, 2), (3, 0, 5)]  # vertex 2 dangling
    n, iters, d = 4, 6, 0.85
    verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
    wdf = spark.createDataFrame(edges, "src long, dst long, w long")
    got = {
        r["id"]: r["rank"]
        for r in pagerank(wdf, verts, tol=0.0, max_iter=iters, weight="w").ranks.collect()
    }

    W = np.zeros((n, n))
    for a, b, w in edges:
        W[a, b] = w
    wout = W.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.zeros(n)
        for a, b, w in edges:
            contrib[b] += r[a] * w / wout[a]
        dang = r[wout == 0].sum()
        r = (1 - d) / n + d * (contrib + dang / n)
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-12, i

    # uniform weights == unweighted pagerank (fixed 4 iterations)
    uni = spark.createDataFrame(
        [(a, b) for a, b, _ in edges], "src long, dst long"
    )
    uw = uni.select("src", "dst", F.lit(1).alias("w"))
    a1 = {
        r["id"]: r["rank"]
        for r in pagerank(uw, verts, tol=0.0, max_iter=4, weight="w").ranks.collect()
    }
    a2 = {
        r["id"]: r["rank"]
        for r in pagerank(uni, verts, tol=0.0, max_iter=4).ranks.collect()
    }
    for i in range(n):
        assert abs(a1[i] - a2[i]) < 1e-12


def test_anf_matches_python_ball_replay(spark):
    """ANF sketch supersteps == FM sketch of the exact BFS ball,
    bit-for-bit (sketch-union ≡ set-union), on a random small graph."""
    import hashlib
    import random

    from graphminer_spark.algorithms.anf import K_REGS, neighborhood_function

    rng = random.Random(11)
    n = 40
    und = {(a, b) for a, b in (sorted(rng.sample(range(n), 2)) for _ in range(60))}
    sym = [(a, b) for a, b in und] + [(b, a) for a, b in und]
    df = spark.createDataFrame(sym, "src long, dst long")
    got = {
        r["h"]: r["sum_pow"]
        for r in neighborhood_function(df, h_max=4).collect()
    }

    def fm(v, reg):
        h = int(hashlib.md5(f"{reg}:{v}".encode()).hexdigest()[:8], 16)
        return 1 << 31 if h == 0 else h & -h

    adj = {v: set() for a, b in sym for v in (a, b)}
    for a, b in sym:
        adj[a].add(b)
    verts = sorted(adj)
    ball = {v: {v} for v in verts}
    for h in range(1, 5):
        ball = {
            v: ball[v] | set().union(*(ball[u] for u in adj[v]))
            for v in verts
        }
        exp = 0
        for v in verts:
            for r in range(K_REGS):
                m = 0
                for u in ball[v]:
                    m |= fm(u, r)
                t = ~m
                exp += t & -t
        assert got[h] == exp, h


def test_effective_diameter_path_graph(spark):
    """On a 7-path the interpolated effective diameter must land
    inside (0, 6] and the h=0-anchored curve must be monotone."""
    from graphminer_spark.algorithms.anf import (
        effective_diameter,
        neighborhood_function,
    )

    und = [(i, i + 1) for i in range(6)]
    sym = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(sym, "src long, dst long")
    curve = [
        r["sum_pow"]
        for r in neighborhood_function(df, h_max=6, include_h0=True)
        .orderBy("h")
        .collect()
    ]
    assert all(a <= b for a, b in zip(curve, curve[1:]))
    assert curve[-1] > curve[0]
    eff = float(
        effective_diameter(df, h_max=6).collect()[0]["eff_diam_s"]
    )
    assert 0.0 < eff <= 6.0


def test_pagerank_incremental_warm_start(spark):
    """Warm-starting from the pre-delta converged ranks reaches the
    same fixpoint as a cold run on the changed graph, in fewer
    iterations."""
    import random

    from graphminer_spark.algorithms.pagerank import pagerank

    rng = random.Random(3)
    n = 120
    base = {(rng.randrange(n), rng.randrange(n)) for _ in range(400)}
    base = [(a, b) for a, b in base if a != b]
    delta = [(0, 119), (119, 1), (5, 117), (117, 5), (60, 61)]
    verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
    g0 = spark.createDataFrame(base, "src long, dst long")
    g1 = spark.createDataFrame(
        sorted(set(base) | set(delta)), "src long, dst long"
    )

    r0 = pagerank(g0, verts, tol=1e-10, max_iter=100)
    cold = pagerank(g1, verts, tol=1e-10, max_iter=100)
    warm = pagerank(
        g1, verts, tol=1e-10, max_iter=100, init_ranks=r0.ranks
    )
    assert warm.iterations < cold.iterations, (warm.iterations, cold.iterations)
    c = {r["id"]: r["rank"] for r in cold.ranks.collect()}
    w = {r["id"]: r["rank"] for r in warm.ranks.collect()}
    for i in range(n):
        assert abs(c[i] - w[i]) < 1e-8, i
