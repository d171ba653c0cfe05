"""General-k FSM (``algorithms/fsm_general.py``) against the brute-force
oracle ``oracles.brute_fsm`` and the closed-form 2-/3-edge kernels, plus
the loop's own contracts: each connected subgraph is generated exactly
once, labels of any value encode, checkpointed levels hold no lambda
expressions, and no level state outlives the call."""

from __future__ import annotations

import random

import pytest

from graphminer_spark.algorithms.fsm_general import (
    fsm_4edge_support,
    fsm_kedge_support,
)
from graphminer_spark.graph.build import symmetrize
from graphminer_spark.oracles import brute_fsm
from tests.conftest import edges_df


def _random_edges(n, m, seed):
    rng = random.Random(seed)
    raw = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    return sorted({(min(a, b), max(a, b)) for a, b in raw if a != b})


def _graph(spark, edges, label):
    sym = symmetrize(edges_df(spark, edges), dedup=False)
    lv = spark.createDataFrame(sorted(label.items()), "id long, vlabel int")
    return sym, lv


def _code(pattern) -> str:
    """A brute-force pattern in ``fsm_kedge_support``'s code layout."""
    cedges, clabels = pattern
    return f"{cedges!r}|[{', '.join(map(str, clabels))}]"


def _supports(df) -> dict[str, int]:
    return {r["code"]: r["support"] for r in df.collect()}


@pytest.fixture(scope="module")
def k5_graph():
    edges = _random_edges(12, 18, 5)
    return edges, {v: v % 2 for v in range(12)}


def test_fsm_kedge_agrees_with_specialized_kernels(spark):
    """The generic gSpan frontier loop at k=2/3 reproduces the
    (brute-force-validated) closed-form kernels' support multisets."""
    from graphminer_spark.algorithms.patterns import (
        fsm_2edge_support,
        fsm_3edge_support,
    )

    sym, lv = _graph(spark, _random_edges(25, 60, 13), {v: v % 3 for v in range(25)})
    for k, spec in [(2, fsm_2edge_support), (3, fsm_3edge_support)]:
        gen = sorted(
            r["support"]
            for r in fsm_kedge_support(sym, lv, k, 1).collect()
        )
        ref = sorted(r["support"] for r in spec(sym, lv, 1).collect())
        assert gen == ref, f"k={k} support multiset mismatch"


def test_fsm_kedge_k5_matches_universal_brute(spark, k5_graph):
    """k=5 (beyond the gate's k=4): every pattern code and its support
    match the universal all-permutation brute force — the frontier loop
    is genuinely general-k."""
    edges, label = k5_graph
    sym, lv = _graph(spark, edges, label)
    brute, _ = brute_fsm(edges, label, 5)
    assert _supports(fsm_kedge_support(sym, lv, 5, 1)) == {
        _code(p): s for p, s in brute.items()
    }


def test_fsm_level_counts_are_connected_subgraph_counts(spark, k5_graph):
    """With minsup=1 nothing is pruned, so level L holds every connected
    L-edge subgraph exactly once: the canonical-parent transitions
    neither drop nor repeat one."""
    edges, label = k5_graph
    sym, lv = _graph(spark, edges, label)
    stats: dict[str, int] = {}
    fsm_kedge_support(sym, lv, 5, 1, stats=stats)
    for level in range(1, 6):
        assert stats[f"level{level}_embeddings"] == brute_fsm(edges, label, level)[1]


def test_fsm_4edge_matches_universal_brute(spark):
    """k=4: per-shape support multisets match a universal brute force
    (min-encoding pattern id over all vertex permutations, position
    domains = exact MNI by definition)."""
    edges = _random_edges(22, 50, 13)
    label = {v: v % 3 for v in range(22)}
    sym, lv = _graph(spark, edges, label)
    shape_of = {
        (1, 1, 1, 1, 4): "star4",
        (1, 1, 1, 2, 3): "chair",
        (1, 1, 2, 2, 2): "path5",
        (2, 2, 2, 2): "cycle4",
        (1, 2, 2, 3): "paw",
    }
    brute: dict[str, list[int]] = {}
    for (cedges, _), sup in brute_fsm(edges, label, 4)[0].items():
        deg = [sum(p in e for e in cedges) for p in range(max(b for _, b in cedges) + 1)]
        brute.setdefault(shape_of[tuple(sorted(deg))], []).append(sup)
    got: dict[str, list[int]] = {}
    for r in fsm_4edge_support(sym, lv, minsup=1).collect():
        got.setdefault(r["shape"], []).append(r["support"])
    assert set(got) == set(brute)
    for sh in brute:
        assert sorted(brute[sh]) == sorted(got[sh]), f"shape {sh} mismatch"


def test_fsm_labels_outside_byte_range(spark):
    """Labels far from 0..255, one of them negative, keep their order
    and values through the packed code."""
    edges = _random_edges(14, 26, 9)
    label = {v: 1000 + v % 3 for v in range(14)}
    label[edges[0][0]] = -1
    sym, lv = _graph(spark, edges, label)
    for k in (2, 3):
        brute, _ = brute_fsm(edges, label, k)
        assert _supports(fsm_kedge_support(sym, lv, k, 1)) == {
            _code(p): s for p, s in brute.items()
        }


def test_fsm_null_label_is_a_label_of_its_own(spark):
    """A null label mines like a label ordered before every other one
    and reads ``null``; its edges stay in the mine and in the edge count
    that ``minsup_fn`` receives."""
    edges = _random_edges(12, 22, 3)
    label = {v: v % 2 for v in range(12)}
    label[edges[0][0]] = label[edges[-1][1]] = None
    sym, lv = _graph(spark, edges, label)
    below = {v: -1 if x is None else x for v, x in label.items()}
    for k in (2, 3):
        brute, _ = brute_fsm(edges, below, k)
        want = {
            _code((cedges, ["null" if x == -1 else x for x in clabels])): sup
            for (cedges, clabels), sup in brute.items()
        }
        assert _supports(fsm_kedge_support(sym, lv, k, 1)) == want
    seen: list[int] = []
    rows = fsm_4edge_support(sym, lv, minsup_fn=lambda m: seen.append(m) or 1).collect()
    assert seen == [sym.count()]
    brute, _ = brute_fsm(edges, below, 4)
    assert len(rows) == len(brute)
    assert sum(None in tuple(r) for r in rows) == sum(-1 in cl for _, cl in brute)


def test_fsm_empty_level_ends_the_mine(spark):
    """When no pattern of some level below k is frequent, or no k-edge
    subgraph exists, both faces return no rows and report the later
    levels as empty."""
    sym, lv = _graph(spark, _random_edges(16, 30, 6), {v: v % 3 for v in range(16)})
    assert fsm_4edge_support(sym, lv, minsup=1000).collect() == []
    stats: dict[str, int] = {}
    assert fsm_kedge_support(sym, lv, 3, 1000, stats=stats).collect() == []
    assert stats["level1_frequent"] == 0
    assert stats["level3_embeddings"] == stats["level3_frequent"] == 0
    sym, lv = _graph(spark, [(0, 1)], {0: 0, 1: 1})
    assert fsm_kedge_support(sym, lv, 3, 1).collect() == []


def test_fsm_label_alphabet_limit(spark):
    """At k = 5 the six packed label ranks hold 1024 distinct labels: a
    graph with that many mines like the brute force, one more label
    raises."""
    edges = _random_edges(8, 11, 1)
    label = {v: 3 * v - 1500 for v in range(1024)}
    sym, lv = _graph(spark, edges, label)
    brute, _ = brute_fsm(edges, label, 5)
    assert _supports(fsm_kedge_support(sym, lv, 5, 1)) == {
        _code(p): s for p, s in brute.items()
    }
    _, wider = _graph(spark, edges, {**label, 1024: 5000})
    with pytest.raises(ValueError, match="room for 1024 distinct labels; got 1025"):
        fsm_kedge_support(sym, wider, 5, 1)


def test_fsm_rejects_k_beyond_the_structure_mask(spark):
    sym, lv = _graph(spark, [(0, 1)], {0: 0, 1: 0})
    for k in (0, 11):
        with pytest.raises(ValueError, match="k must be in 1..10"):
            fsm_kedge_support(sym, lv, k, 1)


def test_fsm_checkpoints_only_scalar_plans(spark, monkeypatch):
    """Every frame the mine checkpoints is planned without lambda
    functions: no per-embedding array is built or scanned."""
    sym, lv = _graph(spark, _random_edges(16, 30, 2), {v: v % 3 for v in range(16)})
    plans: list[str] = []
    cls = type(sym)
    checkpoint = cls.localCheckpoint

    def spy(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().analyzed().toString())
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    fsm_kedge_support(sym, lv, 3, 1).collect()
    assert plans
    assert not [p for p in plans if "lambdafunction" in p]


def test_fsm_frees_its_level_states(spark, monkeypatch):
    """No level's checkpoint or edge table outlives the mine, even while
    someone still holds it: every checkpoint the mine took is gone from
    the persistent RDDs, the 4-edge face leaves their count where it
    was, and the general face adds at most its returned table."""
    sym, lv = _graph(spark, _random_edges(40, 90, 4), {v: v % 3 for v in range(40)})
    held: list = []
    cls = type(sym)
    checkpoint = cls.localCheckpoint

    def spy(self, *args, **kwargs):
        held.append(checkpoint(self, *args, **kwargs))
        return held[-1]

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    fsm_4edge_support(sym, lv, minsup=2).collect()
    assert jsc.getPersistentRDDs().size() <= before
    before = jsc.getPersistentRDDs().size()
    fsm_kedge_support(sym, lv, 4, 2).collect()
    assert jsc.getPersistentRDDs().size() <= before + 1
    taken = {df._jdf.queryExecution().analyzed().rdd().id() for df in held}
    assert taken and not taken & set(jsc.getPersistentRDDs().keySet())
