"""Triangle counting vs brute-force oracle (reference golden-count
methodology, ``src/triangle/README.md:51-64``)."""

from __future__ import annotations

import random

import pytest

from graphminer_spark.algorithms.triangles import (
    clique4_count,
    per_edge_triangles,
    triangle_count,
)
from graphminer_spark.graph.build import build_dag
from graphminer_spark.oracles import brute_triangles
from tests.conftest import edges_df

K4_PLUS_TAIL = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 4), (4, 5)]
TWO_CLIQUES = [
    (a, b) for c in (0, 5) for a in range(c, c + 5) for b in range(a + 1, c + 5)
]


def _random_graph(n: int, m: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]


@pytest.mark.parametrize(
    "edges,expected",
    [(K4_PLUS_TAIL, 4), (TWO_CLIQUES, 20)],
)
def test_total_triangles_fixtures(spark, edges, expected):
    df = edges_df(spark, edges)
    got = triangle_count(build_dag(df)).collect()[0]["n_triangles"]
    assert got == expected


def test_triangles_random_vs_oracle(spark):
    edges = _random_graph(n=200, m=1500, seed=42)
    total, per_edge = brute_triangles(edges)
    df = edges_df(spark, edges)
    dag = build_dag(df)
    assert triangle_count(dag).collect()[0]["n_triangles"] == total

    rows = per_edge_triangles(df, dag).collect()
    got = {(r["src"], r["dst"]): r["tri_cnt"] for r in rows}
    assert got == per_edge


def test_per_edge_includes_zero_edges(spark):
    df = edges_df(spark, K4_PLUS_TAIL)
    rows = per_edge_triangles(df, build_dag(df)).collect()
    got = {(r["src"], r["dst"]): r["tri_cnt"] for r in rows}
    # tail edges (3,4),(4,5) are on no triangle
    assert got[(3, 4)] == 0 and got[(4, 5)] == 0
    # each K4 edge lies on exactly 2 triangles
    assert got[(0, 1)] == 2 and got[(2, 3)] == 2
    assert sum(got.values()) == 3 * 4


def test_4clique_count(spark):
    df = edges_df(spark, K4_PLUS_TAIL)
    assert clique4_count(build_dag(df)).collect()[0]["n_4cliques"] == 1
    df2 = edges_df(spark, TWO_CLIQUES)
    # C(5,4) per 5-clique × 2
    assert clique4_count(build_dag(df2)).collect()[0]["n_4cliques"] == 10


def test_tc_invariant_under_relabeling(spark):
    edges = _random_graph(n=100, m=600, seed=7)
    perm = list(range(100))
    random.Random(1).shuffle(perm)
    relabeled = [(perm[a], perm[b]) for a, b in edges]
    t1 = triangle_count(build_dag(edges_df(spark, edges))).collect()[0][0]
    t2 = triangle_count(build_dag(edges_df(spark, relabeled))).collect()[0][0]
    assert t1 == t2


def test_tc_sampled_matches_brute_on_sample(spark):
    """Sampled estimator: the sampled-graph count must equal the brute
    count over the deterministically-kept edges, the estimate is the
    1/p^3 scale-up, and hash-based sampling is run-to-run stable."""
    from graphminer_spark.algorithms.triangles import (
        sample_edges_deterministic,
        triangle_count_sampled,
    )

    edges = _random_graph(n=120, m=2500, seed=11)
    # canonicalize as the engine's ingest does: src < dst, distinct
    canon = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
    df = edges_df(spark, canon)
    kept = {
        (r["src"], r["dst"])
        for r in sample_edges_deterministic(df).collect()
    }
    assert 0 < len(kept) < len(canon)
    total, _ = brute_triangles(list(kept))
    row = triangle_count_sampled(df).collect()[0]
    assert row["sampled_triangles"] == total
    assert row["est_triangles"] == total * 64
    again = triangle_count_sampled(df).collect()[0]
    assert tuple(row) == tuple(again)


def test_degree_assortativity_vs_numpy(spark):
    import numpy as np

    from graphminer_spark.graph.build import degree_assortativity, symmetrize

    edges = _random_graph(n=50, m=400, seed=13)
    canon = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
    df = edges_df(spark, canon)
    got = degree_assortativity(symmetrize(df, dedup=False)).collect()[0]["r"]

    deg: dict[int, int] = {}
    for a, b in canon:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    js = np.array(
        [deg[a] for a, b in canon] + [deg[b] for a, b in canon], dtype=float
    )
    ks = np.array(
        [deg[b] for a, b in canon] + [deg[a] for a, b in canon], dtype=float
    )
    want = np.corrcoef(js, ks)[0, 1]
    assert abs(got - want) < 1e-9
