"""Pure numpy/stdlib oracles (no Spark) used by the pytest suite.

These play the role of the reference's golden README tables
(``src/triangle/README.md:51-64`` etc.): an independent implementation
every distributed result must match — exactly for TC/CC/LP, allclose
1e-6 for PageRank (matching the north rule's tolerance).
"""

from __future__ import annotations

from collections import Counter
from itertools import combinations, permutations

import numpy as np


def brute_triangles(edges: list[tuple[int, int]]) -> tuple[int, dict[tuple[int, int], int]]:
    """Exact total + per-edge triangle counts by sorted-adjacency
    merge-intersection (the reference algorithm,
    ``src/triangle/omp_base.cc:15-21``, in pure Python)."""
    adj: dict[int, set[int]] = {}
    canon = set()
    for a, b in edges:
        if a == b:
            continue
        s, d = (a, b) if a < b else (b, a)
        canon.add((s, d))
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    per_edge = {e: 0 for e in canon}
    total = 0
    for (s, d) in canon:
        common = adj[s] & adj[d]
        per_edge[(s, d)] = len(common)
        total += len(common)
    # each triangle counted once per edge → 3× total
    assert total % 3 == 0
    return total // 3, per_edge


def union_find_cc(vertices: list[int], edges: list[tuple[int, int]]) -> dict[int, int]:
    """Connected-component labels = min member id per component."""
    parent = {v: v for v in vertices}
    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots: dict[int, list[int]] = {}
    for v in parent:
        roots.setdefault(find(v), []).append(v)
    label = {}
    for members in roots.values():
        m = min(members)
        for v in members:
            label[v] = m
    return label


def dense_pagerank(
    n: int,
    edges: list[tuple[int, int]],
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 200,
) -> np.ndarray:
    """Power iteration with dangling-mass redistribution on a dense
    float64 matrix; vertices are 0..n-1. Returns rank vector summing
    to 1.0."""
    out = np.zeros(n, dtype=np.float64)
    for s, _ in edges:
        out[s] += 1.0
    rank = np.full(n, 1.0 / n, dtype=np.float64)
    for _ in range(max_iter):
        contrib = np.zeros(n, dtype=np.float64)
        scaled = np.where(out > 0, rank / np.maximum(out, 1), 0.0)
        for s, d in edges:
            contrib[d] += scaled[s]
        dangling = rank[out == 0].sum()
        new = (1.0 - damping) / n + damping * (contrib + dangling / n)
        delta = np.abs(new - rank).sum()
        rank = new
        if delta < tol:
            break
    return rank


def sync_label_propagation(
    vertices: list[int], edges: list[tuple[int, int]], n_iter: int
) -> dict[int, int]:
    """Synchronous LP, deterministic tie-break: new label = the
    neighbor label with max count, ties broken by min label; vertices
    with no neighbors keep their label. Initial label = vertex id."""
    adj: dict[int, list[int]] = {v: [] for v in vertices}
    canon = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    for a, b in canon:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    label = {v: v for v in adj}
    for _ in range(n_iter):
        new = {}
        for v, nbrs in adj.items():
            if not nbrs:
                new[v] = label[v]
                continue
            cnt = Counter(label[u] for u in nbrs)
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
            new[v] = best[0]
        label = new
    return label


def brute_pattern_counts(edges: list[tuple[int, int]]) -> dict[str, int]:
    """Edge-induced (subgraph-containment) counts of the small named
    patterns by direct enumeration — independent of the formula-based
    rewrites in ``algorithms.motifs``. Small graphs only."""
    from itertools import combinations

    adj: dict[int, set[int]] = {}
    canon = set()
    for a, b in edges:
        if a == b:
            continue
        canon.add((min(a, b), max(a, b)))
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    verts = sorted(adj)

    wedges = 0
    stars3 = 0
    for v in verts:
        d = len(adj[v])
        wedges += d * (d - 1) // 2
        stars3 += d * (d - 1) * (d - 2) // 6

    triangles = [
        (a, b, c)
        for a, b in canon
        for c in sorted(adj[a] & adj[b])
        if c > b
    ]

    # diamonds: pairs of triangles sharing an edge
    tri_per_edge: dict[tuple[int, int], int] = {}
    for t in triangles:
        for x, y in combinations(t, 2):
            e = (min(x, y), max(x, y))
            tri_per_edge[e] = tri_per_edge.get(e, 0) + 1
    diamonds = sum(k * (k - 1) // 2 for k in tri_per_edge.values())

    tailed = 0
    for t in triangles:
        ts = set(t)
        for v in t:
            tailed += len(adj[v] - ts)

    # P4: ordered walks a-b-c-d on 4 distinct vertices, halved
    p4 = 0
    for b, c in canon:
        for pair in ((b, c), (c, b)):
            bb, cc = pair
            for a in adj[bb]:
                if a == cc:
                    continue
                for d in adj[cc]:
                    if d != bb and d != a:
                        p4 += 1
    p4 //= 2

    # C4: ordered closed walks a-b-c-d-a on distinct vertices, / 8
    c4 = 0
    for a in verts:
        for b in adj[a]:
            for c in adj[b]:
                if c == a:
                    continue
                for d in adj[c] & adj[a]:
                    if d != b:
                        c4 += 1
    c4 //= 8

    return {
        "n_wedges": wedges,
        "n_3stars": stars3,
        "n_triangles": len(triangles),
        "n_diamonds": diamonds,
        "n_tailed_triangles": tailed,
        "n_4paths": p4,
        "n_rectangles": c4,
    }


def brute_core_numbers(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Coreness per vertex by sequential peeling."""
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {v: len(ns) for v, ns in adj.items()}
    core = dict.fromkeys(adj, 0)
    remaining = set(adj)
    k = 0
    while remaining:
        k += 1
        changed = True
        while changed:
            drop = [v for v in remaining if deg[v] < k]
            changed = bool(drop)
            for v in drop:
                remaining.discard(v)
                for u in adj[v]:
                    if u in remaining:
                        deg[u] -= 1
        for v in remaining:
            core[v] = k
    return core


def brute_match_count(
    edges: list[tuple[int, int]], spec, labels: dict[int, int] | None = None
) -> int:
    """``subgraph.count_matches`` by backtracking over adjacency: the
    injective maps of the pattern's vertices that keep its edges, its
    vertex labels (``labels``: id → label), its ``lt`` pairs and, for an
    induced spec, its non-edges — ordered maps over |Aut| when the spec
    has no ``lt`` pairs. Small graphs only."""
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    labels = labels or {}
    padj = spec.adj()
    lab = spec.vlabels or (None,) * spec.n
    order = [0]  # every later position has a bound pattern neighbor
    while len(order) < spec.n:
        order.append(
            min(p for p in range(spec.n) if p not in order and padj[p] & set(order))
        )
    phi: dict[int, int] = {}

    def fits(p: int, v: int) -> bool:
        if v in phi.values() or (lab[p] is not None and labels.get(v) != lab[p]):
            return False
        for q, w in phi.items():
            if q in padj[p] and w not in adj[v]:
                return False
            if spec.induced and q not in padj[p] and w in adj[v]:
                return False
            if (p, q) in spec.lt and not v < w or (q, p) in spec.lt and not w < v:
                return False
        return True

    def extend(k: int) -> int:
        if k == spec.n:
            return 1
        p = order[k]
        cands = adj[phi[min(padj[p] & set(phi))]] if k else adj
        total = 0
        for v in cands:
            if fits(p, v):
                phi[p] = v
                total += extend(k + 1)
                del phi[p]
        return total

    n = extend(0)
    return n if spec.lt else n // spec.automorphisms()


def brute_fsm(
    edges: list[tuple[int, int]], labels: dict[int, int], k: int
) -> tuple[dict[tuple, int], int]:
    """MNI support of every k-edge pattern by brute force →
    ``({(canon_edges, canon_labels): support}, n_connected)``. Every
    connected k-subset of ``edges`` is encoded under every vertex
    ordering; its pattern is the minimal ``(edges, labels)`` encoding,
    and each ordering that reaches it adds position → vertex pairs to
    the pattern's domains. ``n_connected`` counts the connected k-edge
    subgraphs. Small graphs only."""
    es_all = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
    dom: dict[tuple, dict[int, set[int]]] = {}
    n_connected = 0
    for es in combinations(es_all, k):
        vs = sorted({x for e in es for x in e})
        if len(set(union_find_cc(vs, list(es)).values())) != 1:
            continue
        n_connected += 1
        encs = []
        for assign in permutations(range(len(vs))):  # assign[pos] = index into vs
            pos_of = {vs[q]: p for p, q in enumerate(assign)}
            enc = (
                tuple(sorted(tuple(sorted((pos_of[u], pos_of[v]))) for u, v in es)),
                tuple(labels[vs[q]] for q in assign),
            )
            encs.append((enc, assign))
        best = min(enc for enc, _ in encs)
        poss = dom.setdefault(best, {})
        for enc, assign in encs:
            if enc == best:
                for p, q in enumerate(assign):
                    poss.setdefault(p, set()).add(vs[q])
    return {pat: min(len(s) for s in poss.values()) for pat, poss in dom.items()}, n_connected
