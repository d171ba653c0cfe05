"""Generic subgraph-matching engine vs (a) literal python
transcriptions of the reference SgL kernels, (b) the ordered/|Aut|
counting mechanism, (c) the published citeseer goldens and (d) the
backtracking oracle ``oracles.brute_match_count``, which also checks
the plans the matcher picks for itself: the label filter stage, the
post-filter matching order and the wedge-close cycle rewrite.

Kernel transcriptions follow /root/reference/src/sgl/cpu_kernels/*.h
line by line (sorted adjacency, `>= bound → break` = upper bound).
"""

from __future__ import annotations

import itertools
import random

import pytest
from pyspark.sql import functions as F

from graphminer_spark.algorithms.subgraph import (
    SGL_PATTERNS,
    PatternSpec,
    build_candidates,
    count_matches,
    gks_count,
    match_embeddings,
    parse_pattern,
)
from graphminer_spark.graph.build import degrees, symmetrize
from graphminer_spark.graph.labels import with_synthetic_labels
from graphminer_spark.oracles import brute_match_count
from tests.conftest import citeseer_dir, edges_df


def _random_graph(n=24, p=0.25, seed=11):
    rng = random.Random(seed)
    edges = {
        (i, j)
        for i in range(n)
        for j in range(i + 1, n)
        if rng.random() < p
    }
    adj = {i: [] for i in range(n)}
    for a, b in edges:
        adj[a].append(b)
        adj[b].append(a)
    for v in adj:
        adj[v].sort()
    return edges, adj


# ------------------------------------------------ literal kernel loops


def _k_house(adj):
    c = 0
    for v0 in adj:
        y0 = set(adj[v0])
        for v1 in adj[v0]:
            if v1 >= v0:
                break
            y1 = set(adj[v1])
            y0y1 = y0 & y1
            for v2 in y0y1:
                for v3 in adj[v1]:
                    if v3 == v0 or v3 == v2:
                        continue
                    c += len(
                        [x for x in y0 & set(adj[v3]) if x != v1 and x != v2]
                    )
    return c


def _k_pentagon(adj):
    c = 0
    for v0 in adj:
        for v1 in adj[v0]:
            if v1 >= v0:
                break
            y1 = set(adj[v1])
            for v2 in adj[v0]:
                if v2 >= v1:
                    break
                for v3 in adj[v2]:
                    if v3 >= v0:
                        break
                    if v3 == v1:
                        continue
                    y3 = set(adj[v3])
                    c += len([x for x in y1 & y3 if x < v0 and x != v2])
    return c


def _k_hourglass(adj):
    c = 0
    for v0 in adj:
        a0 = set(adj[v0])
        for v1 in adj[v0]:
            a0a1 = [x for x in a0 & set(adj[v1]) if x < v1]
            for v2 in a0a1:
                for v3 in adj[v0]:
                    if v3 >= v1:
                        break
                    if v3 == v2:
                        continue
                    c += len(
                        [x for x in a0 & set(adj[v3]) if x < v3 and x != v2]
                    )
    return c


def _k_dumbbell(adj):
    c = 0
    for v0 in adj:
        a0 = set(adj[v0])
        for v1 in adj[v0]:
            a0a1 = [x for x in a0 & set(adj[v1]) if x < v1]
            for v2 in a0a1:
                for v3 in adj[v0]:
                    if v3 >= v0:
                        break
                    if v3 in (v1, v2):
                        continue
                    a3 = set(adj[v3])
                    for v4 in adj[v3]:
                        if v4 in (v0, v1, v2):
                            continue
                        c += len(
                            [
                                x
                                for x in a3 & set(adj[v4])
                                if x < v4 and x not in (v0, v1, v2)
                            ]
                        )
    return c


def _k_5path(adj):
    c = 0
    for v0 in adj:
        for v1 in adj[v0]:
            for v2 in adj[v0]:
                if v2 >= v1:
                    break
                for v3 in adj[v2]:
                    if v3 in (v0, v1):
                        continue
                    for v4 in adj[v1]:
                        if v4 in (v0, v2, v3):
                            continue
                        c += 1
    return c


def _k_6path(adj):
    c = 0
    for v0 in adj:
        for v1 in adj[v0]:
            if v1 >= v0:
                break
            for v2 in adj[v0]:
                if v2 == v1:
                    continue
                for v3 in adj[v1]:
                    if v3 in (v0, v2):
                        continue
                    for v4 in adj[v2]:
                        if v4 in (v0, v1, v3):
                            continue
                        for v5 in adj[v3]:
                            if v5 in (v0, v1, v2, v4):
                                continue
                            c += 1
    return c


def _k_semihouse(adj):
    c = 0
    for v0 in adj:
        y0 = set(adj[v0])
        for v1 in adj[v0]:
            if v1 >= v0:
                break
            a0a1 = y0 & set(adj[v1])
            for v2 in a0a1:
                a0a2 = y0 & set(adj[v2])
                for v3 in a0a2:
                    if v3 == v1:
                        continue
                    c += len(
                        [
                            x
                            for x in set(adj[v1]) & set(adj[v2])
                            if x not in (v0, v3)
                        ]
                    )
    return c


def _k_closedhouse(adj):
    c = 0
    for v0 in adj:
        y0 = set(adj[v0])
        for v1 in adj[v0]:
            if v1 >= v0:
                break
            y0y1 = y0 & set(adj[v1])
            for v2 in y0y1:
                for v3 in y0y1:
                    if v3 == v2:
                        continue
                    c += len(
                        [x for x in y0y1 & set(adj[v3]) if x != v2]
                    )
    return c


def _k_taileddiamond(adj):
    c = 0
    for v0 in adj:
        a0 = set(adj[v0])
        for v1 in adj[v0]:
            if v1 >= v0:
                break
            a0a1 = a0 & set(adj[v1])
            if len(a0a1) > 1:
                for v2 in a0a1:
                    for v3 in a0a1:
                        if v3 == v2:
                            continue
                        c += len(
                            [x for x in adj[v2] if x not in (v0, v1, v3)]
                        )
    return c


def _k_taileddiamond2(adj):
    c = 0
    for v0 in adj:
        for v1 in adj[v0]:
            a0a1 = set(adj[v0]) & set(adj[v1])
            if len(a0a1) > 1:
                for v2 in sorted(a0a1):
                    for v3 in sorted(a0a1):
                        if v3 >= v2:
                            break
                        c += len(
                            [x for x in adj[v0] if x not in (v1, v2, v3)]
                        )
    return c


# taileddiamond.h iterates the ordered (v2, v3) wing pair but the tail
# hangs off v2 specifically, so each subgraph appears once; closedhouse
# iterates its symmetric {v3, v4} pair in both orders → kernel = 2 × S.
KERNELS = {
    "house": (_k_house, 1),
    "pentagon": (_k_pentagon, 1),
    "hourglass": (_k_hourglass, 1),
    "dumbbell": (_k_dumbbell, 1),
    "5path": (_k_5path, 1),
    "6path": (_k_6path, 1),
    "semihouse": (_k_semihouse, 1),
    "closedhouse": (_k_closedhouse, 2),
    "taileddiamond": (_k_taileddiamond, 1),
    "taileddiamond2": (_k_taileddiamond2, 1),
}

EXPECTED_AUT = {
    "rectangle": 8,
    "diamond": 4,
    "tailed_triangle": 2,
    "4path": 2,
    "3star": 6,
    "house": 2,
    "pentagon": 10,
    "hourglass": 8,
    "semihouse": 2,
    "closedhouse": 4,
    "taileddiamond": 2,
    "taileddiamond2": 2,
    "dumbbell": 8,
    "5path": 2,
    "6path": 2,
}


def test_automorphism_counts():
    for name, spec in SGL_PATTERNS.items():
        assert spec.automorphisms() == EXPECTED_AUT[name], name


@pytest.fixture(scope="module")
def small_graph(spark):
    edges, adj = _random_graph()
    sym = symmetrize(edges_df(spark, edges), dedup=False).persist()
    sym.count()
    return edges, adj, sym


@pytest.mark.parametrize("name", sorted(KERNELS))
def test_spec_matches_literal_kernel(spark, small_graph, name):
    edges, adj, sym = small_graph
    kern, mult = KERNELS[name]
    expected = kern(adj)
    assert expected > 0, f"fixture too sparse for {name}"
    got = count_matches(sym, SGL_PATTERNS[name]).collect()[0][0]
    assert got * mult == expected, name


@pytest.mark.parametrize("name", sorted(SGL_PATTERNS))
def test_lt_constraints_equal_ordered_over_aut(spark, small_graph, name):
    """The hand-derived symmetry-breaking predicates must agree with
    the mechanism-free ordered//|Aut| count — two independent
    canonicalization mechanisms, one truth."""
    _, _, sym = small_graph
    spec = SGL_PATTERNS[name]
    unordered = PatternSpec(spec.name, spec.n, spec.edges)  # no lt
    a = count_matches(sym, spec).collect()[0][0]
    b = count_matches(sym, unordered).collect()[0][0]
    assert a == b, name


def test_citeseer_goldens(spark):
    """Published counts: src/sgl/README.md:51-63 (house 55,359;
    pentagon 28,394; 4-cycles 6,059; diamonds 3,730) and
    src/count/README.md:44 (hourglass 16,034)."""
    from graphminer_spark.sources.refgraph import load_ref_graph

    _, directed = load_ref_graph(spark, citeseer_dir())
    sym = directed.persist()  # citeseer stores both directions
    goldens = {
        "rectangle": 6_059,
        "diamond": 3_730,
        "house": 55_359,
        "pentagon": 28_394,
        "hourglass": 16_034,
    }
    for name, want in goldens.items():
        got = count_matches(sym, SGL_PATTERNS[name]).collect()[0][0]
        assert got == want, f"{name}: {got} != {want}"


def test_parse_pattern_labeled_and_matching(spark, small_graph):
    _, adj, sym = small_graph
    # labeled wedge 0(l=1) - 1(l=0) - 2(l=2) in the reference file format
    spec = parse_pattern("0 1 1 0\n1 0 2 2", name="wedge")
    assert spec.n == 3 and spec.vlabels == (1, 0, 2)
    verts = spark.createDataFrame(
        [(v, v % 7) for v in adj], "id long, vlabel int"
    )
    got = count_matches(sym, spec, verts).collect()[0][0]
    brute = sum(
        1
        for c in adj
        for x in adj[c]
        for y in adj[c]
        if x != y and c % 7 == 0 and x % 7 == 1 and y % 7 == 2
    )
    assert got == brute


def test_induced_counts_vs_bruteforce(spark, small_graph):
    """induced=True must count vertex-induced embeddings (non-edges
    enforced) — brute-forced over all 4-subsets."""
    edges, adj, sym = small_graph
    eset = {frozenset(e) for e in edges}
    # induced 4-cycle
    spec = PatternSpec(
        "ind_rect", 4, ((0, 1), (1, 2), (2, 3), (0, 3)), induced=True
    )
    brute = 0
    for quad in itertools.combinations(sorted(adj), 4):
        sub = {frozenset(p) for p in itertools.combinations(quad, 2) if frozenset(p) in eset}
        # C4 iff every vertex has induced degree 2 and connected
        if len(sub) == 4 and all(
            sum(1 for e in sub if v in e) == 2 for v in quad
        ):
            brute += 1
    got = count_matches(sym, spec).collect()[0][0]
    assert got == brute


def test_gks_vs_bruteforce(spark, small_graph):
    edges, adj, sym = small_graph
    eset = {frozenset(e) for e in edges}
    verts = spark.createDataFrame(
        [(v, v % 7) for v in adj], "id long, vlabel int"
    )
    keywords = (0, 1, 2)
    brute = 0
    for trip in itertools.combinations(sorted(adj), 3):
        if sorted(v % 7 for v in trip) != sorted(keywords):
            continue
        sub = [p for p in itertools.combinations(trip, 2) if frozenset(p) in eset]
        if len(sub) >= 2:  # wedge or triangle → connected
            brute += 1
    got = gks_count(sym, verts, keywords).collect()[0][0]
    assert got == brute


def test_connected_graph_atlas_sizes():
    from graphminer_spark.algorithms.subgraph import connected_graphs

    # include/pattern.hh:4-15: 2 / 6 / 21 connected patterns
    assert len(connected_graphs(3)) == 2
    assert len(connected_graphs(4)) == 6
    assert len(connected_graphs(5)) == 21


def test_motif_induced_vs_bruteforce(spark, small_graph):
    """Every induced 4-motif count from the generic matcher must match
    a brute force over all 4-subsets classified by canonical form."""
    from graphminer_spark.algorithms.subgraph import connected_graphs

    edges, adj, sym = small_graph
    eset = {frozenset(e) for e in edges}
    specs = connected_graphs(4)

    def canon(vs, sub):
        idx = {v: i for i, v in enumerate(vs)}
        es = {tuple(sorted((idx[a], idx[b]))) for a, b in sub}
        return min(
            tuple(sorted(tuple(sorted((p[a], p[b]))) for a, b in es))
            for p in itertools.permutations(range(4))
        )

    spec_by_canon = {
        min(
            tuple(sorted(tuple(sorted((p[a], p[b]))) for a, b in s.edges))
            for p in itertools.permutations(range(4))
        ): s.name
        for s in specs
    }
    brute = {s.name: 0 for s in specs}
    for quad in itertools.combinations(sorted(adj), 4):
        sub = [
            p for p in itertools.combinations(quad, 2) if frozenset(p) in eset
        ]
        if not sub:
            continue
        key = canon(quad, sub)
        if key in spec_by_canon:  # connected classes only
            brute[spec_by_canon[key]] += 1
    from graphminer_spark.algorithms.subgraph import count_matches as cm

    for s in specs:
        got = cm(sym, s).collect()[0][0]
        assert got == brute[s.name], s.name


def test_motif4_formula_citeseer_goldens(spark):
    """src/motif/README.md:50-60 citeseer vertex-induced goldens."""
    from graphminer_spark.algorithms.motifs import motif4_counts
    from graphminer_spark.graph.build import build_dag
    from graphminer_spark.sources.refgraph import load_ref_graph
    from pyspark.sql import functions as F

    _, directed = load_ref_graph(spark, citeseer_dir())
    canon = directed.filter(F.col("src") < F.col("dst"))
    row = motif4_counts(canon, build_dag(canon)).collect()[0]
    assert row["n_4paths_ind"] == 111_153
    assert row["n_3stars_ind"] == 222_630
    assert row["n_4cycles_ind"] == 3_094
    assert row["n_tailed_triangles_ind"] == 22_900
    assert row["n_diamonds_ind"] == 2_200
    assert row["n_4cliques"] == 255


def test_motif4_formula_equals_induced_matcher(spark, small_graph):
    """Two independent mechanisms — formula corrections vs induced
    enumeration — must agree (the reference's redundant-kernel
    discipline, SURVEY §5)."""
    from graphminer_spark.algorithms.motifs import motif4_counts
    from graphminer_spark.algorithms.subgraph import (
        connected_graphs,
        count_matches,
    )
    from graphminer_spark.graph.build import build_dag

    edges, adj, sym = small_graph
    canon = edges_df(spark, edges)
    row = motif4_counts(canon, build_dag(canon)).collect()[0]
    by_edges = {len(s.edges): s for s in connected_graphs(4) if len(s.edges) in (6, 5, 4)}
    # 6 edges = K4; 5 = diamond; plus distinguish the 4-edge/3-edge ones
    got_k4 = count_matches(sym, by_edges[6]).collect()[0][0]
    got_dia = count_matches(sym, by_edges[5]).collect()[0][0]
    assert row["n_4cliques"] == got_k4
    assert row["n_diamonds_ind"] == got_dia


def test_motif5_induced_vs_bruteforce(spark):
    """All 21 induced 5-motif counts vs brute force over 5-subsets of a
    dense small graph (dense classes — K5 etc. — are exercised here;
    the driver-gate graph is sparse and only covers the sparse tail)."""
    from graphminer_spark.algorithms.subgraph import (
        connected_graphs,
        count_matches,
    )

    edges, adj = _random_graph(n=14, p=0.55, seed=3)
    sym = symmetrize(edges_df(spark, edges), dedup=False).persist()
    eset = {frozenset(e) for e in edges}
    specs = connected_graphs(5)

    def canon5(vs, sub):
        idx = {v: i for i, v in enumerate(vs)}
        es = {tuple(sorted((idx[a], idx[b]))) for a, b in sub}
        return min(
            tuple(sorted(tuple(sorted((p[a], p[b]))) for a, b in es))
            for p in itertools.permutations(range(5))
        )

    spec_by_canon = {
        min(
            tuple(sorted(tuple(sorted((p[a], p[b]))) for a, b in s.edges))
            for p in itertools.permutations(range(5))
        ): s.name
        for s in specs
    }
    brute = {s.name: 0 for s in specs}
    for quint in itertools.combinations(sorted(adj), 5):
        sub = [
            p for p in itertools.combinations(quint, 2) if frozenset(p) in eset
        ]
        if not sub:
            continue
        key = canon5(quint, sub)
        if key in spec_by_canon:
            brute[spec_by_canon[key]] += 1
    nonzero = sum(1 for v in brute.values() if v > 0)
    assert nonzero >= 18, f"fixture too sparse: only {nonzero}/21 classes"
    for s in specs:
        got = count_matches(sym, s).collect()[0][0]
        assert got == brute[s.name], s.name


def test_butterflies_vs_bruteforce(spark):
    """Bipartite 2x2-biclique count vs brute force."""
    import random

    from graphminer_spark.graph.bipartite import (
        bipartite_degrees,
        butterfly_count,
    )

    rng = random.Random(9)
    edges = {(rng.randrange(12), 100 + rng.randrange(20)) for _ in range(90)}
    bip = spark.createDataFrame(sorted(edges), "u long, v long")
    nbrs = {}
    for u, v in edges:
        nbrs.setdefault(u, set()).add(v)
    brute = 0
    for a, b in itertools.combinations(sorted(nbrs), 2):
        c = len(nbrs[a] & nbrs[b])
        brute += c * (c - 1) // 2
    assert butterfly_count(bip).collect()[0][0] == brute
    degs = {(r["side"], r["id"]): r["deg"] for r in bipartite_degrees(bip).collect()}
    assert degs[(0, max(nbrs, key=lambda u: len(nbrs[u])))] == max(
        len(s) for s in nbrs.values()
    )


def test_match_embeddings_plan_pure_jvm(spark, small_graph):
    """Pattern-matching plans must stay inside the JVM (no per-row
    Python) — the north-rule requirement asserted on the house plan."""
    _, _, sym = small_graph
    emb = match_embeddings(sym, SGL_PATTERNS["house"])
    plan = emb._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "Join" in plan


# ---------------------------- filter stage, matching order, wedge close


def _gnm(n, m, seed):
    rng = random.Random(seed)
    return [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]


def _labels_df(spark, labels):
    return spark.createDataFrame(sorted(labels.items()), "id long, vlabel int")


def _filter_stage_runs(sym, spec, lv) -> bool:
    """True when ``match_embeddings`` builds candidate tables for
    ``spec``: the stage hands them to ``_aux`` for release."""
    aux: list = []
    match_embeddings(sym, spec, lv, _aux=aux)
    for t in aux:
        t.unpersist()
    return bool(aux)


LABELED_HOUSE = PatternSpec(
    "labeled_house", 5, SGL_PATTERNS["house"].edges, vlabels=(0, 1, 2, 3, 4)
)


@pytest.mark.parametrize("seed", [7, 23])
def test_pruning_preserves_labeled_counts(spark, seed):
    """On a skewed label histogram the NLF/degree filter stage runs
    and may only remove vertices that cannot appear in any match: the
    counts equal the backtracking oracle's."""
    edges = _gnm(50, 250, seed)
    sym = symmetrize(edges_df(spark, edges), dedup=False)
    # 40 label-0 vertices, the other 10 spread over labels 1..4
    labels = {v: (v // 5) % 4 + 1 if v % 5 == 0 else 0 for v in range(50)}
    lv = _labels_df(spark, labels)
    for spec in (
        PatternSpec("lhouse", 5, SGL_PATTERNS["house"].edges, vlabels=(1, 0, 0, 2, 0)),
        PatternSpec("ldiamond", 4, SGL_PATTERNS["diamond"].edges, vlabels=(0, 1, 0, 0)),
    ):
        assert _filter_stage_runs(sym, spec, lv), spec.name
        got = count_matches(sym, spec, lv).collect()[0][0]
        assert got == brute_match_count(edges, spec, labels), spec.name


def test_filter_stage_on_skewed_labels_matches_oracle(spark):
    """Rare classes 0..5 and one bulk class 6: the max/min frequency
    ratio is far above the gate, the filter stage runs, and the count
    is still exact."""
    edges = _gnm(60, 240, 13)
    sym = symmetrize(edges_df(spark, edges), dedup=False)
    labels = {v: v % 37 if v % 37 < 6 else 6 for v in range(60)}
    lv = _labels_df(spark, labels)
    spec = PatternSpec(
        "skew_wedge3", 4, ((0, 1), (1, 2), (2, 3)), vlabels=(0, 6, 6, 1)
    )
    assert _filter_stage_runs(sym, spec, lv)
    got = count_matches(sym, spec, lv).collect()[0][0]
    assert got == brute_match_count(edges, spec, labels) > 0


def test_candidate_filter_shrinks_enumeration_input(spark):
    """On a selective labeled fixture the NLF/degree candidate set is
    strictly smaller than the label-only candidate set (the reference
    filter stage's whole point, src/query/filter.h:10-22)."""
    sym = symmetrize(edges_df(spark, _gnm(60, 200, 11)), dedup=False)
    verts = degrees(sym).select("id")
    lv = with_synthetic_labels(verts)
    # position 1 of the labeled house has pattern degree 3 and three
    # distinctly-labeled neighbors — the NLF filter bites hard
    pos = 1
    label_only = lv.filter(
        F.col("vlabel") == LABELED_HOUSE.vlabels[pos]
    ).count()
    pruned = build_candidates(sym, LABELED_HOUSE, lv, pos).count()
    assert pruned < label_only
    # and pruning never removes a true match participant
    emb = match_embeddings(sym, LABELED_HOUSE, lv)
    matched = {r[f"v{pos}"] for r in emb.collect()}
    kept = {r["id"] for r in build_candidates(sym, LABELED_HOUSE, lv, pos).collect()}
    assert matched <= kept


def test_query_order_uses_post_filter_cardinality(spark):
    """GQL-style order: the matching order follows FILTERED candidate
    counts, not raw label frequency — on a fixture where the frequent
    label's candidates collapse under the degree/NLF filter, the seed
    flips to that position (and the count stays exact)."""
    # one label-0 hub in 2 triangles; 48 degree-1 label-0 decoys
    edges = [
        (0, 100), (0, 200), (100, 200),
        (0, 101), (0, 201), (101, 201),
    ] + [(i, 100) for i in range(2, 50)]
    sym = symmetrize(edges_df(spark, edges), dedup=False)
    labels = {i: 0 for i in range(50)} | {100: 1, 101: 1, 200: 2, 201: 2}
    lv = _labels_df(spark, labels)
    # triangle 0-1-2 with a label-1 tail on the label-0 position
    spec = PatternSpec(
        "t012_tail", 4, ((0, 1), (0, 2), (1, 2), (0, 3)), vlabels=(0, 1, 2, 1)
    )
    probe: dict = {}
    emb = match_embeddings(sym, spec, lv, _plan_probe=probe)
    # label histogram says position 0 is the WORST seed (50 label-0
    # vertices vs 2/2/2); the post-filter counts say it is the best (1)
    assert probe["cand_est"] == [1, 2, 2, 2]
    assert 0 in probe["seed"]
    assert emb.count() == 2
    assert count_matches(sym, spec, lv).collect()[0][0] == 2
    assert brute_match_count(edges, spec, labels) == 2


def test_ceci_candidate_edge_pushdown(spark):
    """The candidate semi-joins must sit BELOW the extension inner
    joins in the optimized plan — i.e. every edge scan that feeds an
    extension is pre-filtered by its endpoint candidate sets (the
    CECI candidate-edge index, obtained from the optimizer rather
    than a hand-built index). Guard it: a Spark upgrade or a plan
    change that breaks the pushdown silently turns the filter stage
    into post-join work."""
    rng = random.Random(11)
    sym = symmetrize(edges_df(spark, _gnm(150, 700, 11)), dedup=False)
    # skewed labels so the filter stage runs
    lv = _labels_df(
        spark, {i: 0 if i % 7 else rng.randrange(4) for i in range(150)}
    )
    spec = PatternSpec(
        "lpath4", 4, ((0, 1), (1, 2), (2, 3)), vlabels=(0, 1, 1, 0)
    )
    assert _filter_stage_runs(sym, spec, lv)
    emb = match_embeddings(sym, spec, lv)
    plan = emb._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    first_inner = min(
        i for i, l in enumerate(lines) if "Join Inner" in l
    )
    semis_below = [
        i for i, l in enumerate(lines) if "Join LeftSemi" in l and i > first_inner
    ]
    # deeper tree lines = larger indices; the semi filters must appear
    # in the subtrees UNDER the inner joins (scan side), and none may
    # sit above the first inner join
    semis_above = [
        i for i, l in enumerate(lines) if "Join LeftSemi" in l and i < first_inner
    ]
    assert semis_below and not semis_above, plan[:2000]


def test_wedge_close_counts_match_oracle(spark):
    """The pentagon and rectangle plans close a chordless cycle at
    their first probe and take the wedge-close rewrite (subgraph.py
    level loop); the house closes a triangle first and keeps
    extend-then-probe. All three counts equal the backtracking
    oracle's on a random graph dense enough that each shape appears."""
    edges = _gnm(60, 500, 11)
    sym = symmetrize(edges_df(spark, edges)).persist()
    sym.count()
    try:
        for name in ("pentagon", "house", "rectangle"):
            spec = SGL_PATTERNS[name]
            got = count_matches(sym, spec).collect()[0][0]
            assert got == brute_match_count(edges, spec) > 0, name
    finally:
        sym.unpersist()
