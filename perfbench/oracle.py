"""Expected outputs, computed without the Spark engine, and the checks
that compare the engine's outputs against them.

Every expected value comes from the seeded input and an independent
implementation: a vectorized numpy power iteration for PageRank, the
pure-Python ``graphminer_spark.oracles`` for CC / LP / triangles, and
DuckDB over the ``oracle_sql`` queries for FSM and pattern counts. None
is read back from an engine run. Results are cached per workload and
seed under the benchmark's work directory, outside the timed pass.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pandas as pd

from graphminer_spark import oracles

MASK64 = (1 << 64) - 1
_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261
_HREF = re.compile(r'href="([^"]*)"')


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & MASK64


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & MASK64, 31) * _P1) & MASK64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 as Spark's ``xxhash64`` computes it for a string column
    (seed 42, UTF-8 bytes), returned as a signed 64-bit id."""
    n = len(data)
    i = 0
    if n >= 32:
        v = [
            (seed + _P1 + _P2) & MASK64,
            (seed + _P2) & MASK64,
            seed & MASK64,
            (seed - _P1) & MASK64,
        ]
        while i + 32 <= n:
            for k in range(4):
                v[k] = _round(v[k], int.from_bytes(data[i + 8 * k : i + 8 * k + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & MASK64
        for k in range(4):
            h = (((h ^ _round(0, v[k])) * _P1) + _P4) & MASK64
    else:
        h = (seed + _P5) & MASK64
    h = (h + n) & MASK64
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & MASK64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & MASK64
        h = (_rotl(h, 23) * _P2 + _P3) & MASK64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & MASK64
        h = (_rotl(h, 11) * _P1) & MASK64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & MASK64
    h ^= h >> 29
    h = (h * _P3) & MASK64
    h ^= h >> 32
    return h - (1 << 64) if h >= 1 << 63 else h


# ------------------------------------------------------------- algorithms


def pagerank(
    ids: np.ndarray,
    edges: np.ndarray,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
) -> tuple[np.ndarray, int]:
    """Power iteration with dangling-mass redistribution over sorted
    ``ids`` and directed ``edges``; stops on L1 delta < ``tol`` as the
    engine does. Returns ``(ranks aligned with ids, iterations)``."""
    n = len(ids)
    src = np.searchsorted(ids, edges[:, 0])
    dst = np.searchsorted(ids, edges[:, 1])
    out = np.bincount(src, minlength=n).astype(np.float64)
    dangling = out == 0
    rank = np.full(n, 1.0 / n)
    it = 0
    for it in range(1, max_iter + 1):
        share = np.divide(rank, out, out=np.zeros(n), where=~dangling)
        contrib = np.bincount(dst, weights=share[src], minlength=n)
        new = (1.0 - damping) / n + damping * (contrib + rank[dangling].sum() / n)
        delta = np.abs(new - rank).sum()
        rank = new
        if delta < tol:
            break
    return rank, it


def graph_expectations(
    ids: np.ndarray,
    directed: np.ndarray,
    canon: np.ndarray,
    lp_iter: int,
) -> dict[str, np.ndarray]:
    """PageRank over ``directed``, CC over ``directed``, LP over the
    symmetric ``canon`` and per-edge triangles over ``canon``."""
    ranks, pr_iters = pagerank(ids, directed)
    vlist = ids.tolist()
    cc = oracles.union_find_cc(vlist, [tuple(e) for e in directed.tolist()])
    canon_list = [tuple(e) for e in canon.tolist()]
    lp = oracles.sync_label_propagation(vlist, canon_list, lp_iter)
    total, per_edge = oracles.brute_triangles(canon_list)
    tri = np.array(sorted((s, d, c) for (s, d), c in per_edge.items()), dtype=np.int64)
    return {
        "ids": ids,
        "pr": ranks,
        "pr_iters": np.array(pr_iters),
        "cc": np.array([cc[v] for v in vlist], dtype=np.int64),
        "lp": np.array([lp[v] for v in vlist], dtype=np.int64),
        "tri_total": np.array(total),
        "tri_edges": tri.reshape(-1, 3),
    }


def crawl_graph(n_pages: int, seed: int, hub_skew: float, max_links: int):
    """The link graph ``build_link_graph`` must produce from
    ``generate_pages(n_pages, seed)``: hrefs parsed from each page's HTML,
    ids hashed from URLs, targets kept only inside the corpus, no
    self-loops, no duplicates. Returns ``(sorted ids, directed edges)``."""
    from graphminer_spark.sources.pages import _page_record

    id_of: dict[str, int] = {}
    links: list[tuple[str, list[str]]] = []
    for i in range(n_pages):
        url, _, html, _, _ = _page_record(i, n_pages, seed, hub_skew, max_links)
        id_of[url] = xxhash64(url.encode("utf-8"))
        links.append((url, _HREF.findall(html.decode("utf-8"))))
    pairs = {
        (id_of[u], id_of[t])
        for u, targets in links
        for t in targets
        if t in id_of and id_of[t] != id_of[u]
    }
    ids = np.array(sorted(id_of.values()), dtype=np.int64)
    if len(ids) != n_pages:
        raise ValueError("xxhash64 collision in the generated corpus")
    return ids, np.array(sorted(pairs), dtype=np.int64).reshape(-1, 2)


def _swap_edges(sql: str, divisor: int, scramble: bool, sample_mod: int | None) -> str:
    """Point an ``oracle_sql`` graph query at the registered ``bench_edges``
    table instead of the lineitem-derived edge CTE it starts with."""
    from graphminer_spark.graph.tpch_edges import edges_sql

    prefix = "WITH " + edges_sql(divisor, scramble, sample_mod).removeprefix("WITH ") + ", "
    if not sql.startswith(prefix):
        raise ValueError("oracle query does not start with the expected edge CTE")
    return "WITH edges AS (SELECT src, dst FROM bench_edges), " + sql[len(prefix):]


def pattern_expectations(fsm_canon: np.ndarray, minsup: int, pent_canon: np.ndarray):
    """FSM rows and the pentagon count, by DuckDB over the relabeled
    canonical edges."""
    import duckdb

    from graphminer_spark.algorithms.subgraph import SGL_PATTERNS, pattern_count_sql_body
    from graphminer_spark.oracle_sql import fsm_4edge_support_sql, graph_query

    con = duckdb.connect()
    try:
        con.execute("SET threads = 4")
        con.register("bench_edges", pd.DataFrame(fsm_canon, columns=["src", "dst"]))
        fsm_sql = _swap_edges(
            fsm_4edge_support_sql(minsup, divisor=1, scramble=True, sample_mod=4),
            1, True, 4,
        )
        fsm = con.execute(fsm_sql).fetchdf()
        con.unregister("bench_edges")
        con.register("bench_edges", pd.DataFrame(pent_canon, columns=["src", "dst"]))
        pent_sql = _swap_edges(
            graph_query(pattern_count_sql_body(SGL_PATTERNS["pentagon"]), divisor=6, scramble=True),
            6, True, None,
        )
        pent = int(con.execute(pent_sql).fetchone()[0])
    finally:
        con.close()
    return {
        "fsm_shape": fsm["shape"].to_numpy().astype(str),
        "fsm_vals": fsm[["q1", "q2", "q3", "q4", "q5", "support"]].to_numpy(np.int64).reshape(-1, 6),
        "pentagons": np.array(pent),
    }


def cached(path: str, compute) -> dict[str, np.ndarray]:
    """Load ``path`` (an .npz this benchmark wrote) or compute and store it."""
    if os.path.exists(path):
        with np.load(path, allow_pickle=False) as z:
            return {k: z[k] for k in z.files}
    out = compute()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp.npz"
    np.savez(tmp, **out)
    os.replace(tmp, path)
    return out


# ----------------------------------------------------------------- checks
# Each returns None when the engine output matches, else a one-line reason.


def check_edges(got: pd.DataFrame, expected: np.ndarray) -> str | None:
    g = np.unique(got[["src", "dst"]].to_numpy(np.int64), axis=0) if len(got) else np.empty((0, 2), np.int64)
    if len(g) != len(got):
        return f"edge table has {len(got) - len(g)} duplicate rows"
    e = np.unique(expected, axis=0)
    if g.shape != e.shape or not np.array_equal(g, e):
        return f"edge set differs: {len(g)} rows vs {len(e)} expected"
    return None


def check_ids(got: np.ndarray, expected: np.ndarray) -> str | None:
    g = np.sort(np.asarray(got, dtype=np.int64))
    if len(g) != len(expected) or not np.array_equal(g, expected):
        return f"vertex ids differ: {len(g)} vs {len(expected)} expected"
    return None


def check_ranks(got: pd.DataFrame, ids: np.ndarray, ranks: np.ndarray, tol: float = 1e-6) -> str | None:
    got = got.sort_values("id")
    bad = check_ids(got["id"].to_numpy(), ids)
    if bad:
        return bad
    err = np.abs(got["rank"].to_numpy(np.float64) - ranks)
    if not np.all(err <= tol):
        return f"{int((err > tol).sum())} ranks off by more than {tol} (max {err.max():.3g})"
    return None


def check_labels(got: pd.DataFrame, col: str, ids: np.ndarray, labels: np.ndarray) -> str | None:
    got = got.sort_values("id")
    bad = check_ids(got["id"].to_numpy(), ids)
    if bad:
        return bad
    diff = got[col].to_numpy(np.int64) != labels
    if diff.any():
        return f"{int(diff.sum())} {col} values differ"
    return None


def check_triangles(total: int, per_edge: pd.DataFrame, exp_total: int, exp_edges: np.ndarray) -> str | None:
    if total != exp_total:
        return f"triangle total {total} vs {exp_total} expected"
    rows = per_edge[["src", "dst", "tri_cnt"]].to_numpy(np.int64).reshape(-1, 3)
    if rows[:, 2].sum() != 3 * total:
        return f"per-edge counts sum to {rows[:, 2].sum()}, not 3 x {total}"
    rows = rows[np.lexsort((rows[:, 1], rows[:, 0]))]
    if rows.shape != exp_edges.shape or not np.array_equal(rows, exp_edges):
        return "per-edge triangle counts differ"
    return None


def check_fsm(got: pd.DataFrame, shapes: np.ndarray, vals: np.ndarray) -> str | None:
    cols = ["q1", "q2", "q3", "q4", "q5", "support"]
    g = sorted(zip(got["shape"].astype(str), map(tuple, got[cols].to_numpy(np.int64).tolist())))
    e = sorted(zip(shapes.astype(str), map(tuple, vals.tolist())))
    if g != e:
        return f"frequent patterns differ: {len(g)} rows vs {len(e)} expected"
    return None
