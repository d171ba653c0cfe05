"""k-truss peeling and HyperBall harmonic centrality.

Golden structures for the truss (clique trusses are known in closed
form; a shared-edge cascade exercises multi-round peeling), a brute
NetworkX-free support invariant, the oracle-unroll round bound, and a
pure-Python bit-for-bit replay of the harmonic sketch read-out.
"""

from __future__ import annotations

import hashlib
import math

from conftest import CountingCkpt, edges_df

from graphminer_spark.algorithms.ktruss import ktruss
from graphminer_spark.graph.build import symmetrize

K5 = [(i, j) for i in range(5) for j in range(i + 1, 5)]
PENDANT_TRI = [(0, 5), (5, 6), (0, 6)]


def _truss_edges(spark, edges, k):
    sym = symmetrize(edges_df(spark, edges), dedup=True)
    return {(r["src"], r["dst"]) for r in ktruss(sym, k=k).collect()}


def test_ktruss_clique_goldens(spark):
    """Every edge of K5 has support 3 inside K5, so K5 is its own
    5-truss; the pendant triangle's edges (support 1) survive only
    at k=3; k=6 empties the graph."""
    g = K5 + PENDANT_TRI
    assert _truss_edges(spark, g, 3) == set(K5) | set(PENDANT_TRI)
    assert _truss_edges(spark, g, 4) == set(K5)
    assert _truss_edges(spark, g, 5) == set(K5)
    assert _truss_edges(spark, g, 6) == set()


def test_ktruss_cascade_multi_round(spark):
    """Two triangles sharing edge (b,c): that edge has support 2 but
    its four neighbors have support 1, so k=4 peels them in round 1,
    leaving (b,c) triangle-less — a second round must remove it too
    (the cascade a single-pass support filter would miss)."""
    g = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)]
    assert _truss_edges(spark, g, 4) == set()
    assert _truss_edges(spark, g, 3) == set(g)


def test_ktruss_support_invariant_random(spark):
    """On a random graph, every surviving edge must close ≥ k-2
    triangles WITHIN the surviving set (the defining invariant),
    checked with a brute python triangle count."""
    import random

    rng = random.Random(7)
    g = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in ((rng.randrange(40), rng.randrange(40)) for _ in range(300))
            if a != b
        }
    )
    k = 4
    kept = _truss_edges(spark, g, k)
    adj: dict[int, set[int]] = {}
    for a, b in kept:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    for a, b in kept:
        assert len(adj[a] & adj[b]) >= k - 2, (a, b)
    # and it is MAXIMAL: re-peeling the kept set is a no-op
    assert _truss_edges(spark, sorted(kept), k) == kept


def test_ktruss_rounds_within_oracle_unroll(spark):
    """The graph_ktruss oracle unrolls KTRUSS_ROUNDS peels; the Spark
    fixpoint on the sf0.001 divisor-20 graph must converge strictly
    inside that bound (monotone peeling ⇒ generous unroll exact)."""
    from graphminer_spark.graph.tpch_edges import tpch_edges

    import __spark_entry__ as entry_mod

    edges = tpch_edges(
        spark, "/root/testdata/sf0.001", divisor=entry_mod.KTRUSS_DIVISOR
    )
    sym = symmetrize(edges, dedup=False)

    ckpt = CountingCkpt()

    ktruss(sym, k=entry_mod.KTRUSS_K, checkpointer=ckpt).count()
    assert 0 < ckpt.rounds < entry_mod.KTRUSS_ROUNDS


# ---------------------------------------------------------------- harmonic


def _py_fm_mask(vid: int, reg: int) -> int:
    h = int(hashlib.md5(f"{reg}:{vid}".encode()).hexdigest()[:8], 16)
    return (1 << 31) if h == 0 else (h & -h)


def _py_low_zero(m: int) -> int:
    t = -m - 1
    return t & -t


def _py_harmonic(edges, h_max=4, k=4):
    """Pure-python replay of the FM-sketch harmonic read-out."""
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    L = math.lcm(*range(1, h_max + 1))
    masks = {v: [_py_fm_mask(v, r) for r in range(k)] for v in adj}
    num = {v: 0 for v in adj}
    for h in range(1, h_max + 1):
        new = {}
        for v in adj:
            ms = list(masks[v])
            for u in adj[v]:
                for r in range(k):
                    ms[r] |= masks[u][r]
            new[v] = ms
        for v in adj:
            old_pow = sum(_py_low_zero(m) for m in masks[v])
            cur_pow = sum(_py_low_zero(m) for m in new[v])
            num[v] += (L // h) * (cur_pow - old_pow)
        masks = new
    return num


def test_harmonic_matches_python_replay(spark):
    """Spark's harm_num must equal the pure-python sketch replay
    bit-for-bit on a path + star composite (deterministic md5 masks —
    no tolerance needed)."""
    from graphminer_spark.algorithms.anf import harmonic_centrality

    g = [(0, 1), (1, 2), (2, 3), (3, 4), (2, 10), (2, 11), (2, 12)]
    sym = symmetrize(edges_df(spark, g), dedup=True)
    got = {
        r["id"]: r["harm_num"]
        for r in harmonic_centrality(sym, h_max=4).collect()
    }
    assert got == _py_harmonic(g, h_max=4)


def test_harmonic_center_beats_leaf(spark):
    """On a star, the hub's harmonic estimate must exceed every
    leaf's (it reaches all vertices at distance 1)."""
    from graphminer_spark.algorithms.anf import harmonic_centrality

    g = [(0, i) for i in range(1, 30)]
    sym = symmetrize(edges_df(spark, g), dedup=True)
    rows = {r["id"]: r["harm_num"] for r in harmonic_centrality(sym, h_max=3).collect()}
    hub = rows.pop(0)
    assert all(hub > v for v in rows.values())
