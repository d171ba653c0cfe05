"""Round-3 additions: deep k-clique chain (k≤9), edge-labeled FSM,
no-forced-broadcast plan guards, and the fused-superstep refactors'
behavioral invariants. The query-pipeline filter-stage tests live in
``tests/test_subgraph.py``."""

from __future__ import annotations

import random
from collections import defaultdict
from itertools import combinations

import pytest
from pyspark.sql import functions as F

from graphminer_spark.algorithms.pagerank import pagerank
from graphminer_spark.algorithms.patterns import (
    clique_count,
    fsm_edge_support,
    fsm_elabel_2edge_support,
    fsm_elabel_support,
)
from graphminer_spark.graph.build import build_dag, degrees, symmetrize
from graphminer_spark.graph.labels import (
    nlf,
    with_synthetic_elabels,
    with_synthetic_labels,
)
from tests.conftest import citeseer_dir, edges_df


def _random_graph(n, m, seed):
    rng = random.Random(seed)
    return [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]


# ------------------------------------------------------------ k-cliques


def _brute_kcliques(dag_edges: list[tuple[int, int]], k: int) -> int:
    """Exact k-clique count by DFS over the DAG adjacency (the DAG's
    total order makes every clique appear exactly once as an ordered
    chain)."""
    out = defaultdict(set)
    for u, v in dag_edges:
        out[u].add(v)

    def extend(cands: set, depth: int) -> int:
        # depth = clique size so far; cands = common out-neighbors
        if depth == k - 1:
            return len(cands)
        return sum(extend(cands & out[c], depth + 1) for c in cands)

    return sum(extend(out[u], 1) for u in list(out))


def test_citeseer_kclique_chain(spark):
    """The generic clique chain at the reference's published depth
    range k=3..9 (src/clique/README.md:52-64) against an exact local
    DFS count on the same DAG."""
    from graphminer_spark.sources.refgraph import load_ref_graph

    _, directed = load_ref_graph(spark, citeseer_dir())
    edges = directed.filter(F.col("src") < F.col("dst")).distinct()
    dag = build_dag(edges).persist()
    dag_edges = [(r["src"], r["dst"]) for r in dag.collect()]
    for k in range(3, 10):
        want = _brute_kcliques(dag_edges, k)
        got = clique_count(dag, k).collect()[0][f"n_{k}cliques"]
        assert got == want, (k, got, want)
    # sanity: the chain is non-trivial at the bottom and exhausts at
    # the top (citeseer's max clique is small)
    assert _brute_kcliques(dag_edges, 3) == 1166
    dag.unpersist()


# ------------------------------------------------------- edge-label FSM


def _brute_elabel_support(edges, n, nc=7, ne=5, minsup=0):
    """(la, el, lb) MNI support over the symmetric edge set."""
    dom = defaultdict(lambda: (set(), set()))
    sym = {(a, b) for a, b in edges if a != b} | {
        (b, a) for a, b in edges if a != b
    }
    for a, b in sym:
        la, lb, el = a % nc, b % nc, (a + b) % ne
        if la <= lb:
            d = dom[(la, el, lb)]
            d[0].add(a)
            d[1].add(b)
    return {
        key: min(len(d[0]), len(d[1]))
        for key, d in dom.items()
        if min(len(d[0]), len(d[1])) >= minsup
    }


def _brute_elabel_wedge_support(edges, nc=7, ne=5, minsup=0):
    sym = {(a, b) for a, b in edges if a != b} | {
        (b, a) for a, b in edges if a != b
    }
    adj = defaultdict(set)
    for a, b in sym:
        adj[a].add(b)
    dom = defaultdict(lambda: (set(), set(), set()))
    for b in adj:
        for a in adj[b]:
            for c in adj[b]:
                if a == c:
                    continue
                la, lb, lc = a % nc, b % nc, c % nc
                e1, e2 = (a + b) % ne, (b + c) % ne
                if (la, e1) <= (lc, e2):
                    d = dom[(la, e1, lb, e2, lc)]
                    d[0].add(a)
                    d[1].add(b)
                    d[2].add(c)
    return {
        k: min(map(len, d))
        for k, d in dom.items()
        if min(map(len, d)) >= minsup
    }


@pytest.mark.parametrize("seed", [3, 17])
def test_fsm_elabel_support_vs_bruteforce(spark, seed):
    edges = _random_graph(40, 160, seed)
    df = edges_df(spark, edges)
    sym = with_synthetic_elabels(symmetrize(df, dedup=False))
    verts = degrees(symmetrize(df, dedup=False)).select("id")
    lv = with_synthetic_labels(verts)
    want = _brute_elabel_support(edges, 40, minsup=3)
    got = {
        (r["la"], r["el"], r["lb"]): r["support"]
        for r in fsm_elabel_support(sym, lv, minsup=3).collect()
    }
    assert got == want


@pytest.mark.parametrize("seed", [5])
def test_fsm_elabel_wedge_vs_bruteforce(spark, seed):
    edges = _random_graph(30, 90, seed)
    df = edges_df(spark, edges)
    sym = with_synthetic_elabels(symmetrize(df, dedup=False))
    verts = degrees(symmetrize(df, dedup=False)).select("id")
    lv = with_synthetic_labels(verts)
    want = _brute_elabel_wedge_support(edges, minsup=2)
    got = {
        (r["la"], r["e1"], r["lb"], r["e2"], r["lc"]): r["support"]
        for r in fsm_elabel_2edge_support(sym, lv, minsup=2).collect()
    }
    assert got == want


# -------------------------------------------- plan guards: no forced bcast


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_forced_broadcast_on_vertex_tables(spark):
    """nlf / fsm_edge_support must not FORCE a broadcast of the
    per-vertex label table: with the auto-broadcast thresholds disabled
    their plans contain no BroadcastHashJoin (a forced F.broadcast hint
    would survive the conf)."""
    edges = _random_graph(80, 300, 2)
    df = edges_df(spark, edges)
    sym = symmetrize(df, dedup=False)
    lv = with_synthetic_labels(degrees(sym).select("id"))
    old_auto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", None
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        assert "BroadcastHashJoin" not in _physical_plan(nlf(sym, lv))
        assert "BroadcastHashJoin" not in _physical_plan(
            fsm_edge_support(sym, lv, minsup=1)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_auto)
        if old_aqe is not None:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe
            )
        else:
            # don't leak the disabled AQE threshold into the shared
            # session fixture — later tests' plans depend on it
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_nlf_map_matches_flat(spark):
    from graphminer_spark.graph.labels import nlf_map

    edges = _random_graph(50, 200, 6)
    df = edges_df(spark, edges)
    sym = symmetrize(df, dedup=False)
    lv = with_synthetic_labels(degrees(sym).select("id"))
    flat = defaultdict(dict)
    for r in nlf(sym, lv).collect():
        flat[r["id"]][r["vlabel"]] = r["n"]
    got = {r["id"]: dict(r["nlf"]) for r in nlf_map(sym, lv).collect()}
    assert got == dict(flat)


# ----------------------------------------- bucketed storage (co-location)


def test_bucketed_edges_aggregate_without_exchange(spark, tmp_path):
    """A src-bucketed edge table feeds groupBy('src') with NO shuffle:
    the bucket spec satisfies the required distribution (the Spark-
    native form of the reference's one-time graph partitioning,
    src/common/graph_partition.cc)."""
    from graphminer_spark.graph.bucketed import (
        load_bucketed_edges,
        save_bucketed_edges,
    )

    edges = edges_df(spark, _random_graph(100, 400, 4))
    save_bucketed_edges(
        edges, "bktest_edges", n_buckets=8, path=str(tmp_path / "bk")
    )
    try:
        t = load_bucketed_edges(spark, "bktest_edges")
        deg = t.groupBy("src").count()
        plan = _physical_plan(deg)
        assert "Exchange" not in plan, plan
        # and the data round-trips exactly
        want = {
            (r["src"], r["count"])
            for r in edges.groupBy("src").count().collect()
        }
        assert {(r["src"], r["count"]) for r in deg.collect()} == want
        # bucketed self-join on src: no SHUFFLE exchange on either side
        # (auto-broadcast disabled — on a tiny test table the planner
        # rightly prefers broadcast over the bucketed join, which is
        # not the code path that matters at scale)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            j = t.alias("a").join(t.alias("b"), "src")
            jplan = _physical_plan(j)
            assert "Exchange hashpartitioning" not in jplan, jplan
            assert "BroadcastExchange" not in jplan, jplan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS bktest_edges")


# --------------------------------------- engine-wide no-per-row-Python sweep


def test_gate_queries_have_no_per_row_python(spark):
    """Every non-iterative gate query's physical plan is free of
    BatchEvalPython (row-at-a-time Python — the north-rule
    prohibition). Arrow-vectorized exchange (ArrowEvalPython /
    FlatMapGroupsInPandas / MapInPandas, used by the multimodal and
    CSR paths) is the sanctioned Python boundary."""
    import __spark_entry__ as entry_mod

    sf = "/root/testdata/sf0.001"
    # plan-only build: excludes queries that execute during
    # construction (iterative loops, eagerly-materialized pattern
    # aggregates) — their kernels are plan-checked elsewhere
    skip_prefixes = (
        "pagerank", "ppr", "wpr", "hits", "cc_", "lp_", "graph_kcore",
        "graph_coreness", "graph_bfs", "pattern_counts", "motif4",
        "motif5", "fsm_2edge", "fsm_3edge", "query_labeled", "gks",
        "dyn_tri",
    )
    qs = entry_mod.queries()
    checked = 0
    for name, fn in qs.items():
        if any(name.startswith(p) for p in skip_prefixes):
            continue
        df = fn(spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan, name
        checked += 1
    assert checked >= 40


# ------------------------------------------------ fused-superstep invariants


def test_ppr_duplicate_sources_are_deduplicated(spark):
    """Duplicate ids in the sources set must not inflate teleport mass
    (sources are distinct()-ed internally)."""
    edges = _random_graph(40, 120, 9)
    df = edges_df(spark, edges)
    verts = degrees(symmetrize(df, dedup=False)).select("id")
    srcs = verts.filter(F.col("id") % 10 == 0)
    dup_srcs = srcs.unionByName(srcs)  # every source twice
    a = {
        r["id"]: r["rank"]
        for r in pagerank(df, verts, tol=0.0, max_iter=3, sources=srcs).ranks.collect()
    }
    b = {
        r["id"]: r["rank"]
        for r in pagerank(
            df, verts, tol=0.0, max_iter=3, sources=dup_srcs
        ).ranks.collect()
    }
    assert a.keys() == b.keys()
    for k in a:
        assert abs(a[k] - b[k]) < 1e-12
    assert abs(sum(a.values()) - 1.0) < 1e-9
