"""Pattern/motif counts: formula rewrites vs brute-force enumeration,
plus golden-count parity on the reference's own bundled citeseer graph
(published counts: triangles src/triangle/README.md:53, patterns
src/sgl/README.md + src/motif/README.md — see BASELINE.md §2)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from graphminer_spark.algorithms.motifs import (
    diamond_count,
    motif3_counts,
    path4_count,
    rectangle_count,
    star3_count,
    tailed_triangle_count,
    wedge_count,
)
from graphminer_spark.algorithms.triangles import clique4_count, triangle_count
from graphminer_spark.graph.build import build_dag, degrees, symmetrize
from graphminer_spark.oracles import brute_pattern_counts
from tests.conftest import citeseer_dir, edges_df


def _random_graph(n, m, seed):
    rng = random.Random(seed)
    return [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]


def _one(df):
    return df.collect()[0]


@pytest.mark.parametrize("seed", [1, 13])
def test_pattern_formulas_vs_bruteforce(spark, seed):
    edges = _random_graph(60, 240, seed)
    want = brute_pattern_counts(edges)
    df = edges_df(spark, edges)
    dag = build_dag(df)
    deg = degrees(symmetrize(df, dedup=False))

    assert _one(wedge_count(deg))["n_wedges"] == want["n_wedges"]
    assert _one(star3_count(deg))["n_3stars"] == want["n_3stars"]
    assert _one(triangle_count(dag))["n_triangles"] == want["n_triangles"]
    assert _one(diamond_count(df, dag))["n_diamonds"] == want["n_diamonds"]
    assert (
        _one(tailed_triangle_count(df, dag))["n_tailed_triangles"]
        == want["n_tailed_triangles"]
    )
    assert _one(path4_count(df, dag))["n_4paths"] == want["n_4paths"]
    assert _one(rectangle_count(df))["n_rectangles"] == want["n_rectangles"]


def test_citeseer_golden_counts(spark):
    """Round-trip the reference's binary CSR format and match its
    published golden counts — the same correctness anchor the
    reference uses (SURVEY §5)."""
    from graphminer_spark.sources.refgraph import load_ref_graph, read_meta

    meta = read_meta(citeseer_dir())
    assert meta["nv"] == 3312 and meta["ne"] == 9072
    vertices, directed = load_ref_graph(spark, citeseer_dir(), with_vlabels=True)
    # stored directed both ways → canonical undirected edge list
    edges = directed.filter(F.col("src") < F.col("dst")).distinct().persist()
    assert edges.count() == 9072 / 2
    dag = build_dag(edges)
    deg = degrees(symmetrize(edges, dedup=False))

    assert _one(triangle_count(dag))["n_triangles"] == 1166
    assert _one(clique4_count(dag))["n_4cliques"] == 255
    # SgL edge-induced goldens (src/sgl/README.md)
    assert _one(diamond_count(edges, dag))["n_diamonds"] == 3730
    assert _one(rectangle_count(edges))["n_rectangles"] == 6059
    # motif vertex-induced wedges (src/motif/README.md): 23,380
    m3 = _one(motif3_counts(edges, dag))
    assert m3["n_wedges_induced"] == 23380
    # derived vertex-induced identities (omp_formula.cc corrections):
    # diamonds_vi = diamonds_ei − 6·K4 = 2,200
    assert 3730 - 6 * 255 == 2200
    # c4_vi = c4_ei − diamonds_vi − 3·K4 = 3,094
    assert 6059 - 2200 - 3 * 255 == 3094
    # vertex labels present, ≤6 classes (graph.meta.txt)
    n_labels = vertices.select("vlabel").distinct().count()
    assert n_labels == 6
