"""SALSA link analysis and weighted SSSP."""

from __future__ import annotations

import hashlib
import heapq

import numpy as np
from conftest import CountingCkpt, edges_df

from graphminer_spark.graph.build import symmetrize


def test_salsa_vs_dense(spark):
    """SALSA matches a dense numpy power iteration of the degree-
    normalized walk with the same L1 half-step normalization."""
    from graphminer_spark.algorithms.hits import salsa

    edges = [(0, 1), (0, 2), (1, 2), (3, 2), (2, 0), (3, 1), (1, 0)]
    n, iters = 4, 5
    verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["id"]: (r["hub"], r["auth"])
        for r in salsa(edf, verts, iters).collect()
    }

    A = np.zeros((n, n))
    for a, b in edges:
        A[a, b] = 1.0
    od = A.sum(axis=1)
    idg = A.sum(axis=0)
    Wa = np.divide(A, od[:, None], out=np.zeros_like(A), where=od[:, None] > 0)
    Wh = np.divide(A, idg[None, :], out=np.zeros_like(A), where=idg[None, :] > 0)
    h = np.full(n, 1.0 / n)
    for _ in range(iters):
        a = Wa.T @ h
        a = a / a.sum()
        h = Wh @ a
        h = h / h.sum()
    for i in range(n):
        np.testing.assert_allclose(got[i][0], h[i], atol=1e-12)
        np.testing.assert_allclose(got[i][1], a[i], atol=1e-12)


def test_salsa_stationary_auth_is_indegree_fraction(spark):
    """Lempel–Moran's closed form: on a connected co-citation
    component, SALSA's stationary authority of v is
    indeg(v) / Σ indeg — the property that distinguishes it from
    HITS (whose principal eigenvector concentrates on the densest
    substructure instead)."""
    from graphminer_spark.algorithms.hits import salsa

    edges = [(0, i) for i in range(2, 8)] + [(1, 2), (3, 2), (4, 2)]
    verts = spark.createDataFrame([(i,) for i in range(8)], "id long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    auth = {r["id"]: r["auth"] for r in salsa(edf, verts, 40).collect()}
    indeg = {v: 0 for v in range(8)}
    for _, b in edges:
        indeg[b] += 1
    tot = sum(indeg.values())
    for v in range(2, 8):
        np.testing.assert_allclose(auth[v], indeg[v] / tot, atol=1e-6)


# ------------------------------------------------------------------ sssp


def _py_weight(a: int, b: int) -> int:
    lo, hi = min(a, b), max(a, b)
    h = int(hashlib.md5(f"{lo}:{hi}".encode()).hexdigest()[:8], 16)
    return (h % 9) + 1


def _py_dijkstra(edges, source):
    adj: dict[int, list[tuple[int, int]]] = {}
    for a, b in edges:
        w = _py_weight(a, b)
        adj.setdefault(a, []).append((b, w))
        adj.setdefault(b, []).append((a, w))
    dist = {source: 0}
    pq = [(0, source)]
    while pq:
        d, v = heapq.heappop(pq)
        if d > dist.get(v, 1 << 60):
            continue
        for u, w in adj.get(v, []):
            nd = d + w
            if nd < dist.get(u, 1 << 60):
                dist[u] = nd
                heapq.heappush(pq, (nd, u))
    return dist


def test_sssp_matches_dijkstra(spark):
    """Bellman–Ford supersteps with the md5 weights must equal an
    exact python Dijkstra on a random connected-ish graph."""
    import random

    from graphminer_spark.algorithms.sssp import sssp

    rng = random.Random(11)
    g = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in ((rng.randrange(60), rng.randrange(60)) for _ in range(250))
            if a != b
        }
    )
    sym = symmetrize(edges_df(spark, g), dedup=True)
    src = g[0][0]
    got = {r["id"]: r["dist"] for r in sssp(sym, source=src).collect()}
    assert got == _py_dijkstra(g, src)


def test_sssp_rounds_within_oracle_unroll(spark):
    """Spark's fixpoint on the sf0.001 sparse graph must converge
    strictly inside the SSSP_ROUNDS oracle unroll."""
    from graphminer_spark.algorithms.sssp import sssp
    from graphminer_spark.graph.tpch_edges import SPARSE_DIVISOR, tpch_edges

    import __spark_entry__ as entry_mod

    edges = tpch_edges(spark, "/root/testdata/sf0.001", divisor=SPARSE_DIVISOR)
    sym = symmetrize(edges, dedup=False)

    ckpt = CountingCkpt()

    d = sssp(sym, source=entry_mod.SSSP_SOURCE, checkpointer=ckpt)
    assert d.count() > 1
    assert 0 < ckpt.rounds < entry_mod.SSSP_ROUNDS
    # weighted distances dominate hop counts: dist(v) >= bfs hops
    from graphminer_spark.algorithms.components import bfs_distances

    hops = {
        r["id"]: r["dist"]
        for r in bfs_distances(sym, source=entry_mod.SSSP_SOURCE).collect()
    }
    wd = {r["id"]: r["dist"] for r in d.collect()}
    assert set(wd) == set(hops)
    assert all(wd[v] >= hops[v] for v in wd)
