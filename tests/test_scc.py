"""Strongly connected components vs an exact python Kosaraju."""

from __future__ import annotations

import random

import pytest


def _py_scc(edges):
    """Kosaraju — scc id = min member id."""
    adj: dict[int, list[int]] = {}
    radj: dict[int, list[int]] = {}
    verts: set[int] = set()
    for a, b in edges:
        adj.setdefault(a, []).append(b)
        radj.setdefault(b, []).append(a)
        verts |= {a, b}
    order: list[int] = []
    seen: set[int] = set()
    for s in sorted(verts):
        if s in seen:
            continue
        stack = [(s, iter(adj.get(s, [])))]
        seen.add(s)
        while stack:
            v, it = stack[-1]
            nxt = next((u for u in it if u not in seen), None)
            if nxt is None:
                order.append(v)
                stack.pop()
            else:
                seen.add(nxt)
                stack.append((nxt, iter(adj.get(nxt, []))))
    comp: dict[int, int] = {}
    for s in reversed(order):
        if s in comp:
            continue
        members, stack = [], [s]
        comp[s] = s
        while stack:
            v = stack.pop()
            members.append(v)
            for u in radj.get(v, []):
                if u not in comp:
                    comp[u] = s
                    stack.append(u)
        root = min(members)
        for v in members:
            comp[v] = root
    return comp


def _spark_scc(spark, edges, checkpointer=None):
    from graphminer_spark.algorithms.scc import strongly_connected_components

    df = spark.createDataFrame(sorted(set(edges)), "src long, dst long")
    return {
        r["id"]: r["scc"]
        for r in strongly_connected_components(df, checkpointer).collect()
    }


def _cycle_chain():
    """Four 3-cycles linked by one-way bridges."""
    edges = []
    for c in range(4):
        base = 10 * c
        edges += [(base, base + 1), (base + 1, base + 2), (base + 2, base)]
        if c:
            edges.append((base - 10, base))  # one-way bridge
    return edges


def test_scc_cycle_chain(spark):
    """A chain of 3-cycles linked by one-way bridges: every cycle is
    its own SCC and the bridges never merge them — requires multiple
    outer rounds (the downstream cycles' F labels are polluted by
    upstream minima until those settle)."""
    edges = _cycle_chain()
    got = _spark_scc(spark, edges)
    assert got == _py_scc(edges)
    assert len(set(got.values())) == 4


def test_scc_raises_when_rounds_run_out(spark):
    """One outer round settles only the first cycle of the chain; the
    call must fail rather than return 3 of the 12 vertices."""
    from graphminer_spark.algorithms.scc import strongly_connected_components

    df = spark.createDataFrame(sorted(set(_cycle_chain())), "src long, dst long")
    with pytest.raises(RuntimeError, match="1 rounds with 9 vertices unassigned"):
        strongly_connected_components(df, max_outer=1)


def test_scc_bowtie(spark):
    """IN-tendril → giant SCC → OUT-tendril (the Broder bow-tie):
    tendril vertices are singleton SCCs, the core is one."""
    core = [(1, 2), (2, 3), (3, 4), (4, 1)]
    tendrils = [(100, 1), (101, 100), (3, 200), (200, 201)]
    got = _spark_scc(spark, core + tendrils)
    assert got == _py_scc(core + tendrils)
    assert got[1] == got[2] == got[3] == got[4] == 1
    assert len({got[100], got[101], got[200], got[201]}) == 4


def test_scc_random_digraph(spark):
    """Random sparse digraph (mix of cycles and DAG edges) matches
    Kosaraju exactly."""
    rng = random.Random(23)
    edges = sorted(
        {
            (a, b)
            for a, b in ((rng.randrange(40), rng.randrange(40)) for _ in range(90))
            if a != b
        }
    )
    got = _spark_scc(spark, edges)
    assert got == _py_scc(edges)


def test_scc_durable_every_superstep(spark, tmp_path):
    """A durable manager committing every round records only the outer
    peel: the forward and backward fixpoints run on their own manager,
    so neither overwrites the checkpoint files of the other."""
    from graphminer_spark.checkpoint import CheckpointManager

    edges = [(i, i + 1) for i in range(7)] + [(10, 11), (11, 12), (12, 10)]
    ck = CheckpointManager(str(tmp_path / "scc"), every=1)
    assert _spark_scc(spark, edges, ck) == _py_scc(edges)
    assert {r["algo"] for r in ck.metrics()} == {"scc"}
