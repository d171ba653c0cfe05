"""Round-4 additions: hub-safe FSM MNI, HITS one-schema durable
checkpoints, dedup persist lifecycle."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from graphminer_spark.graph.build import symmetrize
from tests.conftest import edges_df


def _random_graph(n, m, seed):
    rng = random.Random(seed)
    return [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]


# --------------------------------------- hub-safe FSM MNI (round-4 ask)


def _brute_mni_2edge(edges, label):
    from collections import defaultdict

    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    dom = defaultdict(lambda: defaultdict(set))
    for b in adj:
        for a in adj[b]:
            for c in adj[b]:
                if a == c:
                    continue
                la, lb, lc = label[a], label[b], label[c]
                if la > lc:
                    continue
                k = (la, lb, lc)
                dom[k][("arm", la)].add(a)
                dom[k][("c",)].add(b)
                dom[k][("arm", lc)].add(c)
    return {k: min(len(s) for s in p.values()) for k, p in dom.items()}


def _brute_mni_3edge(edges, label):
    from collections import defaultdict

    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    dom = defaultdict(lambda: defaultdict(set))
    for u in adj:
        for v in adj[u]:
            for w in adj[v]:
                if w != u and w in adj[u]:
                    ls = sorted([label[u], label[v], label[w]])
                    k = ("triangle", ls[0], ls[1], ls[2], -1)
                    for x in (u, v, w):
                        dom[k][("l", label[x])].add(x)
    for b in adj:
        ns = list(adj[b])
        for x in ns:
            for y in ns:
                for z in ns:
                    if len({x, y, z}) < 3:
                        continue
                    lx, ly, lz = label[x], label[y], label[z]
                    if not (lx <= ly <= lz):
                        continue
                    k = ("star", label[b], lx, ly, lz)
                    dom[k][("c",)].add(b)
                    for leaf in (x, y, z):
                        dom[k][("l", label[leaf])].add(leaf)
    for b in adj:
        for a in adj[b]:
            for c in adj[b]:
                if c == a:
                    continue
                for d in adj[c]:
                    if d in (b, a):
                        continue
                    la, lb, lc, ld = label[a], label[b], label[c], label[d]
                    if not ((la < ld) or (la == ld and lb <= lc)):
                        continue
                    k = ("path", la, lb, lc, ld)
                    dom[k][(1,)].add(a)
                    dom[k][(2,)].add(b)
                    dom[k][(3,)].add(c)
                    dom[k][(4,)].add(d)
    return {k: min(len(s) for s in p.values()) for k, p in dom.items()}


@pytest.mark.parametrize("seed,mod", [(11, 3), (5, 2), (42, 7)])
def test_fsm_mni_matches_brute_force(spark, seed, mod):
    """The hub-safe NLF/triangle-indexed domain computation is exact
    MNI — identical to brute-force enumeration over every 2-edge and
    3-edge pattern (including tied-label collision cases)."""
    from graphminer_spark.algorithms.patterns import (
        fsm_2edge_support,
        fsm_3edge_support,
    )

    raw = _random_graph(30, 80, seed)
    edges = sorted({(min(a, b), max(a, b)) for a, b in raw if a != b})
    label = {v: v % mod for v in range(30)}
    sym = symmetrize(edges_df(spark, edges), dedup=False)
    lv = spark.createDataFrame(
        [(v, label[v]) for v in range(30)], "id long, vlabel int"
    )
    got2 = {
        (r["la"], r["lb"], r["lc"]): r["support"]
        for r in fsm_2edge_support(sym, lv, minsup=1).collect()
    }
    assert got2 == _brute_mni_2edge(edges, label)
    got3 = {
        (r["shape"], r["p1"], r["p2"], r["p3"], r["p4"]): r["support"]
        for r in fsm_3edge_support(sym, lv, minsup=1).collect()
    }
    assert got3 == _brute_mni_3edge(edges, label)


def test_fsm_mni_bounded_on_zipf_hub(spark):
    """An 8000-degree hub: the old wedge/star/path-materializing plans
    would push ~deg² .. deg³ (10⁸ .. 5·10¹¹) rows through the MNI
    aggregate; the NLF-domain plans stay O(|E|·L²) and finish. Supports
    are asserted analytically for the fixture."""
    from graphminer_spark.algorithms.patterns import (
        fsm_2edge_support,
        fsm_3edge_support,
    )

    h = 8000
    edges = [(0, i) for i in range(1, h + 1)] + [
        (i, i + 1) for i in range(1, 501)
    ]
    sym = symmetrize(edges_df(spark, edges), dedup=False)
    lv = spark.createDataFrame(
        [(v, 0) for v in range(h + 1)], "id long, vlabel int"
    )
    # wedge (0,0,0): centers = hub + chain leaves 1..501 = 502;
    # arms = all 8000 leaves + hub = 8001 → support 502
    w = fsm_2edge_support(sym, lv, minsup=1).collect()
    assert {(r["la"], r["lb"], r["lc"]): r["support"] for r in w} == {
        (0, 0, 0): 502
    }
    got = {
        (r["shape"], r["p1"], r["p2"], r["p3"], r["p4"]): r["support"]
        for r in fsm_3edge_support(sym, lv, minsup=1).collect()
    }
    assert got == {
        # hub–i–(i+1) triangles, corners = hub + 1..501
        ("triangle", 0, 0, 0, -1): 502,
        # centers with ≥3 neighbors = hub + chain interior 2..500 = 500
        ("star", 0, 0, 0, 0): 500,
        # mids = hub + 1..501 = 502; ends = everyone = 8001
        ("path", 0, 0, 0, 0): 502,
    }


# ------------------------------------------------- AQE superstep gate


def test_superstep_planning_gates_and_restores(spark):
    from graphminer_spark.checkpoint import (
        SUPERSTEP_AQE_MIN_EDGES,
        superstep_planning,
    )

    key = "spark.sql.adaptive.enabled"
    spark.conf.set(key, "true")
    with superstep_planning(spark, 1000):  # small: AQE off inside
        assert spark.conf.get(key) == "false"
    assert spark.conf.get(key) == "true"  # restored
    with superstep_planning(spark, SUPERSTEP_AQE_MIN_EDGES):  # big: no-op
        assert spark.conf.get(key) == "true"
    # restored even when the loop raises
    try:
        with superstep_planning(spark, 1000):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get(key) == "true"
    # and the iterative algorithms leave the session conf untouched
    from graphminer_spark.algorithms.pagerank import pagerank

    edges = edges_df(spark, [(0, 1), (1, 2), (2, 0)])
    verts = spark.createDataFrame([(0,), (1,), (2,)], "id long")
    pagerank(edges, verts, tol=0.0, max_iter=2)
    assert spark.conf.get(key) == "true"


# ------------------------------------------- vertex feature propagation


def test_feature_propagation_matches_brute(spark):
    """2-hop integer-basis-point neighbor mean equals a direct Python
    computation."""
    from collections import defaultdict

    from graphminer_spark.graph.features import (
        propagate_features_flat,
        synthetic_features_flat,
    )

    raw = _random_graph(30, 70, 3)
    edges = sorted({(min(a, b), max(a, b)) for a, b in raw if a != b})
    sym = symmetrize(edges_df(spark, edges), dedup=False)
    verts = sym.select(F.col("src").alias("id")).distinct()
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)

    feat = {(v, d): (v * 31 + d * 17) % 1000 for v in adj for d in range(4)}
    for _ in range(2):
        feat = {
            (v, d): (10000 * sum(feat[(u, d)] for u in adj[v])) // len(adj[v])
            for v in adj
            for d in range(4)
        }
    flat = propagate_features_flat(
        sym, synthetic_features_flat(verts), hops=2
    )
    got = {(r["id"], r["d"]): r["val"] for r in flat.collect()}
    assert got == feat


# ------------------------------------- HITS durable checkpoint layout


def test_hits_checkpoints_have_one_schema(spark, tmp_path):
    """Every durable HITS checkpoint (including iteration 0) has the
    (id, a_raw, h_raw) layout, and hub = h_raw / sum(h_raw),
    auth = a_raw / sum(a_raw) at any iteration reproduce the returned
    scores."""
    from graphminer_spark.algorithms.hits import hits
    from graphminer_spark.checkpoint import CheckpointManager

    edges = edges_df(spark, _random_graph(15, 40, 3))
    verts = (
        symmetrize(edges, dedup=False).select(F.col("src").alias("id")).distinct()
    )
    ckpt = CheckpointManager(str(tmp_path / "hits"), every=1)
    out = {r["id"]: r for r in hits(edges, verts, n_iter=2, checkpointer=ckpt).collect()}

    import os

    iter_dirs = sorted(
        d for d in os.listdir(tmp_path / "hits") if d.startswith("iter=")
    )
    assert iter_dirs[0] == "iter=000000"
    for d in iter_dirs:
        df = spark.read.parquet(str(tmp_path / "hits" / d))
        assert sorted(df.columns) == ["a_raw", "h_raw", "id"]
    # latest() resumes with ONE derivation rule, no iteration branching
    last = spark.read.parquet(str(tmp_path / "hits" / iter_dirs[-1]))
    sa, sh = last.agg(F.sum("a_raw"), F.sum("h_raw")).collect()[0]
    for r in last.collect():
        assert abs(r["h_raw"] / sh - out[r["id"]]["hub"]) < 1e-12
        assert abs(r["a_raw"] / sa - out[r["id"]]["auth"]) < 1e-12


# --------------------------------------------- dedup persist lifecycle


def test_dedup_operators_release_persisted_tables(spark):
    """jaccard_pairs / simhash_near_pairs leave no persisted RDDs
    behind (eager-materialize-then-unpersist, like count_matches)."""
    from graphminer_spark.textops.dedup import jaccard_pairs, simhash_near_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different text with no overlap at all"),
        ],
        "doc_id long, text string",
    )
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    pairs = jaccard_pairs(docs, 0.3)
    assert pairs.count() >= 1  # docs 1 and 2 are near-dups
    sim = simhash_near_pairs(docs)
    sim.count()
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    # each call may leave its OWN eager-materialized result checkpoint
    # (released when the Python ref drops); the internal shingle /
    # simhash persists must be gone — they'd double the delta
    leaked = after - before
    assert len(leaked) <= 2, f"internal persisted tables leaked: {leaked}"


# ---------------------------------------- color-coding approx paths


@pytest.mark.parametrize("k", [3, 4, 5])
def test_colorful_path_count_matches_brute_force(spark, k):
    """Colorful k-path count vs a literal python brute force using the
    SAME md5-derived colors; the estimate column must be exactly
    colorful * k^k // k! (FASCIA/Motivo scale)."""
    import hashlib
    import math

    from graphminer_spark.algorithms.approx import colorful_path_count

    edges = _random_graph(30, 90, seed=7)
    canon = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
    adj = {}
    for a, b in canon:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    def color(v):
        return int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16) % k

    def paths(colorful_only):
        cnt = 0
        stack = [(v,) for v in adj]
        while stack:
            walk = stack.pop()
            if len(walk) == k:
                if walk[0] < walk[-1] and (
                    not colorful_only
                    or len({color(x) for x in walk}) == k
                ):
                    cnt += 1
                continue
            for nxt in adj[walk[-1]]:
                if nxt not in walk:
                    stack.append(walk + (nxt,))
        return cnt

    want = paths(colorful_only=True)
    sym = symmetrize(edges_df(spark, edges))
    row = colorful_path_count(sym, k=k).collect()[0]
    assert row["colorful_paths"] == want
    assert row["est_paths"] == want * k**k // math.factorial(k)

    # estimator sanity on this fixture: within 2x of the exact count
    exact = paths(colorful_only=False)
    assert exact / 2 <= row["est_paths"] <= exact * 2


def test_colorful_path_rejects_bad_k(spark):
    from graphminer_spark.algorithms.approx import colorful_path_count, vertex_color
    from pyspark.sql import functions as F

    sym = symmetrize(edges_df(spark, [(0, 1)]))
    with pytest.raises(ValueError):
        colorful_path_count(sym, k=6)
    with pytest.raises(ValueError):
        vertex_color(F.col("id"), 1)


def test_colorful_dp_agrees_with_enumeration(spark):
    """The FASCIA color-set DP and the walk enumeration are two
    independent implementations of the colorful path count — they
    must agree exactly, per k."""
    from graphminer_spark.algorithms.approx import (
        colorful_path_count,
        colorful_path_count_dp,
    )

    sym = symmetrize(edges_df(spark, _random_graph(40, 140, seed=3)))
    sym = sym.persist()
    sym.count()
    try:
        for k in (3, 4, 5):
            a = colorful_path_count(sym, k=k).collect()[0]
            b = colorful_path_count_dp(sym, k=k).collect()[0]
            assert a["colorful_paths"] == b["colorful_paths"], (k, a, b)
            assert a["est_paths"] == b["est_paths"], (k, a, b)
    finally:
        sym.unpersist()


def test_colorful_dp_multicoloring(spark):
    """R salted colorings in one plan: R=1 matches the un-salted DP
    bit for bit; R=4's averaged estimate is at least as close to the
    exact simple-path count as the worst single coloring, and each
    per-salt count matches a python brute force with the same salted
    colors."""
    import hashlib
    import math

    from graphminer_spark.algorithms.approx import (
        colorful_path_count,
        colorful_path_count_dp,
    )

    k = 4
    edges = _random_graph(35, 110, seed=19)
    canon = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
    adj = {}
    for a, b in canon:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    def color(v, r):
        key = f"{r}:{v}" if r is not None else str(v)
        return int(hashlib.md5(key.encode()).hexdigest()[:8], 16) % k

    def colorful(r):
        cnt = 0
        stack = [(v,) for v in adj]
        while stack:
            walk = stack.pop()
            if len(walk) == k:
                if walk[0] < walk[-1] and len(
                    {color(x, r) for x in walk}
                ) == k:
                    cnt += 1
                continue
            for nxt in adj[walk[-1]]:
                if nxt not in walk:
                    stack.append(walk + (nxt,))
        return cnt

    sym = symmetrize(edges_df(spark, edges))
    base = colorful_path_count_dp(sym, k=k).collect()[0]
    assert base["colorful_paths"] == colorful(None)
    assert (
        base["colorful_paths"]
        == colorful_path_count(sym, k=k).collect()[0]["colorful_paths"]
    )

    R = 4
    row = colorful_path_count_dp(sym, k=k, n_colorings=R).collect()[0]
    total = sum(colorful(r) for r in range(R))
    assert row["colorful_paths"] == total
    num, den = 256, 24
    assert row["est_paths"] == total * num // (den * R)


def test_colorful_tree_dp(spark):
    """FASCIA rooted-tree DP: the path tree must reproduce the path
    DP exactly; star and chair trees match a python backtracking
    brute force using the same md5 colors."""
    import hashlib

    from graphminer_spark.algorithms.approx import (
        colorful_path_count_dp,
        colorful_tree_count,
        tree_automorphisms,
    )

    edges = _random_graph(35, 110, seed=23)
    canon = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
    adj = {}
    for a, b in canon:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    def brute(tree_edges):
        nodes = sorted({v for e in tree_edges for v in e})
        k = len(nodes)

        def color(v):
            return int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16) % k

        tadj = {v: set() for v in nodes}
        for a, b in tree_edges:
            tadj[a].add(b)
            tadj[b].add(a)
        order = [0]
        parent = {}
        for v in order:
            for u in sorted(tadj[v]):
                if u not in parent and u != 0:
                    parent[u] = v
                    order.append(u)
        maps = 0

        def extend(i, phi):
            nonlocal maps
            if i == k:
                maps += 1
                return
            t = order[i]
            for g in adj.get(phi[parent[t]], ()):
                if color(g) in {color(x) for x in phi.values()}:
                    continue
                phi[t] = g
                extend(i + 1, phi)
                del phi[t]

        for g0 in adj:
            extend(1, {0: g0})
        return maps // tree_automorphisms(tree_edges)

    sym = symmetrize(edges_df(spark, edges))
    sym = sym.persist()
    sym.count()
    try:
        # path tree == the specialized path DP
        path4 = ((0, 1), (1, 2), (2, 3))
        a = colorful_tree_count(sym, path4).collect()[0]
        b = colorful_path_count_dp(sym, k=4).collect()[0]
        assert a["colorful_trees"] == b["colorful_paths"]
        assert a["est_trees"] == b["est_paths"]

        for tree in (
            ((0, 1), (0, 2), (0, 3)),  # star4, |Aut| = 6
            ((0, 1), (1, 2), (2, 3), (1, 4)),  # chair, |Aut| = 2
        ):
            got = colorful_tree_count(sym, tree).collect()[0]
            assert got["colorful_trees"] == brute(tree), tree
    finally:
        sym.unpersist()


def test_colorful_dp_plans_stay_jvm_side(spark):
    """The color-coding DP plans are pure JVM expressions: no per-row
    Python (BatchEvalPython), and the color derivation (md5/conv/
    shiftleft) folds into the scans/joins."""
    from graphminer_spark.algorithms.approx import (
        colorful_path_count_dp,
        colorful_tree_count,
    )

    sym = symmetrize(edges_df(spark, _random_graph(30, 90, seed=5)))

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    p = plan(colorful_path_count_dp(sym, k=4))
    assert "BatchEvalPython" not in p
    assert "md5" in p and "shiftleft" in p

    # tree DP materializes eagerly (localCheckpoint) — assert on the
    # pre-aggregation state instead
    t = plan(colorful_tree_count(sym, ((0, 1), (0, 2), (0, 3))))
    assert "BatchEvalPython" not in t
