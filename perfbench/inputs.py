"""Seeded benchmark inputs.

The graph workloads use fixed base structures (built from ``BASE_SEED``)
whose vertex ids are relabeled by a bijection drawn from the run's
``--seed``: every seed hands the engine different ids and a different row
order, while the structure, and with it the amount of work, stays the
same. The bijection keeps ``id % 7``, the synthetic vertex label that
FSM and the pattern oracles use, so the labeled graph is isomorphic too.

The crawl workload passes the seed to ``generate_pages`` itself, so the
corpus changes with the seed.
"""

from __future__ import annotations

import numpy as np

BASE_SEED = 20_241_017
LABEL_CLASSES = 7  # graph.labels.N_CLASSES: labels are id % 7


def random_graph(n_vertices: int, n_edges: int, base_seed: int = BASE_SEED) -> np.ndarray:
    """Uniform random simple graph G(n, m): ``(m, 2)`` int64 rows with
    ``src < dst``, no duplicates. ``tpch_edges`` folds uniformly spread
    lineitem keys into its vertex space, so its graphs have this shape."""
    rng = np.random.default_rng(base_seed)
    draw = int(n_edges * 1.2) + 64
    a = rng.integers(0, n_vertices, draw)
    b = rng.integers(0, n_vertices, draw)
    keep = a != b
    pairs = np.stack([np.minimum(a, b)[keep], np.maximum(a, b)[keep]], axis=1)
    _, first = np.unique(pairs, axis=0, return_index=True)
    pairs = pairs[np.sort(first)]  # distinct pairs, in draw order
    if len(pairs) < n_edges:
        raise ValueError(f"G({n_vertices}, {n_edges}) is too dense to sample")
    return pairs[:n_edges].astype(np.int64)


def relabel(edges: np.ndarray, seed: int) -> np.ndarray:
    """Apply a seeded, label-preserving id bijection and shuffle the rows.

    ``v -> 7 * r[v // 7] + v % 7`` with distinct random ``r`` below 2^36:
    distinct ids stay distinct, ``v % 7`` is kept, and the new ids are
    spread over a sparse 64-bit range like hashed ids. Endpoints keep their
    row position, so the output is no longer ``src < dst`` ordered."""
    rng = np.random.default_rng(seed)
    blocks = int(edges.max()) // LABEL_CLASSES + 1
    pool = np.unique(rng.integers(0, 1 << 36, blocks + blocks // 8 + 64))
    if len(pool) < blocks:
        raise ValueError("relabel pool too small")
    r = rng.permutation(pool)[:blocks]
    out = LABEL_CLASSES * r[edges // LABEL_CLASSES] + edges % LABEL_CLASSES
    return out[rng.permutation(len(out))].astype(np.int64)


def canonical(edges: np.ndarray) -> np.ndarray:
    """``src < dst`` distinct rows, sorted: the canonical undirected form."""
    pairs = np.stack([edges.min(axis=1), edges.max(axis=1)], axis=1)
    pairs = pairs[pairs[:, 0] != pairs[:, 1]]
    return np.unique(pairs, axis=0)
