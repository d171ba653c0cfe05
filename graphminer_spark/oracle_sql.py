"""ANSI-SQL oracle statements (DuckDB dialect) mirroring each Spark
query in ``__spark_entry__.queries()``.

Every statement runs against the driver's pre-registered parquet views
(region nation customer supplier part orders lineitem events documents
embeddings) and must return the same rows/columns as the Spark query —
the driver compares row count, schema and an order-insensitive value
hash. All graph oracles build the edge table with the shared
``EDGES_SQL`` CTE (integer arithmetic only → exact agreement).
"""

from __future__ import annotations

from graphminer_spark.graph.tpch_edges import EDGES_SQL, edges_sql

# symmetric (both directions) view on top of the canonical edges CTE
SYM_SQL = (
    "sym AS MATERIALIZED (SELECT src, dst FROM edges "
    "UNION ALL SELECT dst AS src, src AS dst FROM edges)"
)

DEG_SQL = "deg AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM sym GROUP BY src)"

# degree-ordered DAG: keep u→v iff (deg(v), v) > (deg(u), u)
DAG_SQL = """
dag AS MATERIALIZED (
  SELECT CASE WHEN keep_fwd THEN src ELSE dst END AS src,
         CASE WHEN keep_fwd THEN dst ELSE src END AS dst
  FROM (
    SELECT e.src, e.dst,
           (dv.deg > du.deg OR (dv.deg = du.deg AND e.dst > e.src)) AS keep_fwd
    FROM edges e
    JOIN deg du ON du.id = e.src
    JOIN deg dv ON dv.id = e.dst
  )
)
""".strip()

TRI_SQL = """
tri AS MATERIALIZED (
  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
  FROM dag e1
  JOIN dag e2 ON e1.dst = e2.src
  JOIN dag e3 ON e3.src = e1.src AND e3.dst = e2.dst
)
""".strip()

def graph_ctes(
    divisor: int = 60, scramble: bool = False, sample_mod: int | None = None
) -> str:
    """CTE list WITHOUT the leading WITH keyword, so composers can
    choose WITH vs WITH RECURSIVE. ``divisor``/``scramble``/
    ``sample_mod`` select the graph density, clustering and subsample
    (see ``tpch_edges``)."""
    return (
        f"{edges_sql(divisor, scramble, sample_mod).removeprefix('WITH ')}, "
        f"{SYM_SQL}, {DEG_SQL}, {DAG_SQL}"
    )


GRAPH_CTES = graph_ctes()


def graph_query(
    body: str,
    with_tri: bool = False,
    divisor: int = 60,
    scramble: bool = False,
    sample_mod: int | None = None,
) -> str:
    ctes = graph_ctes(divisor, scramble, sample_mod) + (
        ", " + TRI_SQL if with_tri else ""
    )
    return f"WITH {ctes} {body}"


# --------------------------------------------------------------- iterative

# connected components: min-label fixpoint via recursive CTE (exact
# oracle for the large-star/small-star result)
CC_SQL = f"""
WITH RECURSIVE {GRAPH_CTES},
verts AS (SELECT id FROM deg),
reach(v, r) AS (
  SELECT id, id FROM verts
  UNION
  SELECT reach.v, s.dst FROM reach JOIN sym s ON s.src = reach.r
)
SELECT v AS id, min(r) AS component FROM reach GROUP BY v
""".strip()


def kcore_sql(rounds: int = 30, divisor: int = 60) -> str:
    """k-core vertex set by unrolled peeling (exact oracle for
    ``algorithms.kcore.kcore``). Peeling is a monotone fixpoint: once
    stable, further rounds are identity, so a generous fixed unroll is
    exact as long as it covers the true round count (asserted against
    the Spark loop's iteration count in pytest). k replicates
    ``_q_kcore``'s adaptive choice: max(2, (m // n) * 2 // 3)."""
    parts = [
        graph_ctes(divisor),
        "kk AS (SELECT greatest(2, ((SELECT count(*) FROM sym) "
        "// (SELECT count(*) FROM deg)) * 2 // 3) AS k)",
    ]
    prev = "sym"
    for i in range(1, rounds + 1):
        # MATERIALIZED: each round references the previous edge set
        # twice — inlined CTEs would re-evaluate the chain exponentially
        parts.append(
            f"d{i} AS (SELECT src AS id, count(*) AS deg FROM {prev} GROUP BY src)"
        )
        parts.append(
            f"v{i} AS (SELECT id FROM d{i}, kk WHERE deg >= kk.k)"
        )
        parts.append(
            f"e{i} AS MATERIALIZED (SELECT s.src, s.dst FROM {prev} s "
            f"JOIN v{i} a ON a.id = s.src JOIN v{i} b ON b.id = s.dst)"
        )
        prev = f"e{i}"
    return (
        f"WITH {', '.join(parts)} "
        f"SELECT DISTINCT src AS id FROM {prev}"
    )


def coreness_hindex_sql(rounds: int = 40, divisor: int = 60) -> str:
    """Coreness per vertex by unrolled h-index iteration (exact oracle
    for ``algorithms.kcore.core_numbers_hindex``). Like ``kcore_sql``,
    the iteration is a monotone fixpoint, so a generous unroll is exact
    once it covers the true round count (asserted vs the Spark loop's
    iteration count in pytest)."""
    parts = [
        graph_ctes(divisor),
        "c0 AS MATERIALIZED (SELECT src AS id, count(*) AS core "
        "FROM sym GROUP BY src)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"v{i} AS (SELECT e.src, c.core, count(*) AS n "
            f"FROM sym e JOIN c{i - 1} c ON c.id = e.dst "
            f"GROUP BY e.src, c.core)"
        )
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT src AS id, "
            f"max(least(core, cum))::BIGINT AS core FROM ("
            f"SELECT src, core, sum(n) OVER (PARTITION BY src "
            f"ORDER BY core DESC ROWS BETWEEN UNBOUNDED PRECEDING "
            f"AND CURRENT ROW) AS cum FROM v{i}) GROUP BY src)"
        )
    return f"WITH {', '.join(parts)} SELECT id, core FROM c{rounds}"


def bfs_sql(source: int, rounds: int = 15, divisor: int = 60) -> str:
    """Unrolled hash-min BFS distances (exact oracle for
    ``algorithms.components.bfs_distances``); monotone fixpoint, so a
    generous unroll past the source's eccentricity is exact (round
    count asserted in pytest)."""
    parts = [
        graph_ctes(divisor),
        f"b0 AS (SELECT {source}::BIGINT AS id, 0::BIGINT AS dist)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"b{i} AS MATERIALIZED (SELECT id, min(dist) AS dist FROM ("
            f"SELECT id, dist FROM b{i - 1} "
            f"UNION ALL "
            f"SELECT s.dst AS id, b.dist + 1 AS dist "
            f"FROM b{i - 1} b JOIN sym s ON s.src = b.id"
            f") GROUP BY id)"
        )
    return f"WITH {', '.join(parts)} SELECT id, dist FROM b{rounds}"


def _lp_step(prev: str, step: str) -> str:
    """One synchronous LP superstep: argmax neighbor-label count, ties
    to the smallest label (matches algorithms.labelprop)."""
    return f"""
cnt_{step} AS (
  SELECT s.dst AS id, l.label, count(*) AS cnt
  FROM sym s JOIN {prev} l ON l.id = s.src
  GROUP BY s.dst, l.label
),
best_{step} AS (
  SELECT id, min(label) AS new_label FROM (
    SELECT id, label, cnt, max(cnt) OVER (PARTITION BY id) AS mx
    FROM cnt_{step}
  ) WHERE cnt = mx GROUP BY id
),
{step} AS (
  SELECT v.id, coalesce(b.new_label, v.id) AS label
  FROM verts v LEFT JOIN best_{step} b ON b.id = v.id
)
""".strip()


def lp_sql(n_iter: int) -> str:
    parts = [
        GRAPH_CTES,
        "verts AS (SELECT id FROM deg)",
        "lp0 AS (SELECT id, id AS label FROM verts)",
    ]
    for k in range(1, n_iter + 1):
        parts.append(_lp_step(f"lp{k - 1}", f"lp{k}"))
    return f"WITH {', '.join(parts)} SELECT id, label FROM lp{n_iter}"


def modularity_sql(n_iter: int = 2) -> str:
    """Newman modularity of the ``n_iter``-sweep LP partition (exact
    oracle for ``algorithms.community.modularity`` over
    ``lp_labels_2iter``'s labels): integer numerators, two divisions."""
    from graphminer_spark.algorithms.community import modularity_body_sql

    parts = [
        GRAPH_CTES,
        "verts AS (SELECT id FROM deg)",
        "lp0 AS (SELECT id, id AS label FROM verts)",
    ]
    for k in range(1, n_iter + 1):
        parts.append(_lp_step(f"lp{k - 1}", f"lp{k}"))
    parts.append(f"lab AS MATERIALIZED (SELECT id, label FROM lp{n_iter})")
    return f"WITH {', '.join(parts)} {modularity_body_sql('lab')}"


def linkpred_sql(top_n: int = 500, divisor: int = 60) -> str:
    """Exact oracle for ``algorithms.linkpred.link_prediction_scores``:
    the same open-wedge candidate stream, scored with CN / Jaccard /
    Adamic-Adar / resource-allocation, ordered by the
    integer-deterministic (cn DESC, u, v) and capped at ``top_n``."""
    body = f"""
SELECT u, v, cn, jaccard_s, aa_s, ra_s FROM (
  WITH wedge AS (
    SELECT s1.dst AS u, s2.dst AS v, d.deg AS wdeg
    FROM sym s1 JOIN sym s2 ON s1.src = s2.src AND s1.dst < s2.dst
    JOIN deg d ON d.id = s1.src
  ),
  cand AS (
    SELECT w.u, w.v, count(*) AS cn,
           sum(1.0 / ln(w.wdeg)) AS aa, sum(1.0 / w.wdeg) AS ra
    FROM wedge w
    WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.src = w.u AND e.dst = w.v)
    GROUP BY w.u, w.v
  )
  SELECT c.u, c.v, c.cn,
         printf('%.6f', c.cn::DOUBLE / (du.deg + dv.deg - c.cn)::DOUBLE) AS jaccard_s,
         printf('%.6f', c.aa) AS aa_s,
         printf('%.6f', c.ra) AS ra_s
  FROM cand c JOIN deg du ON du.id = c.u JOIN deg dv ON dv.id = c.v
  ORDER BY c.cn DESC, c.u, c.v LIMIT {top_n}
) t
""".strip()
    return graph_query(body, divisor=divisor)


def _pr_step(prev: str, step: str, damping: float) -> str:
    """One power-iteration superstep with dangling-mass redistribution
    over the *directed* canonical edges (src → dst)."""
    return f"""
dang_{step} AS (
  SELECT coalesce(sum(r.rank), 0.0) AS mass
  FROM {prev} r LEFT JOIN od ON od.id = r.id WHERE od.out_deg IS NULL
),
contrib_{step} AS (
  SELECT e.dst AS id, sum(r.rank / od.out_deg) AS c
  FROM edges e JOIN {prev} r ON r.id = e.src JOIN od ON od.id = e.src
  GROUP BY e.dst
),
{step} AS (
  SELECT v.id,
         (1.0 - {damping}) / nv.n + {damping} * (coalesce(c.c, 0.0) + d.mass / nv.n) AS rank
  FROM verts v CROSS JOIN nv CROSS JOIN dang_{step} d
  LEFT JOIN contrib_{step} c ON c.id = v.id
)
""".strip()


def pagerank_sql(n_iter: int, damping: float = 0.85, decimals: int = 6) -> str:
    parts = [
        GRAPH_CTES,
        "verts AS (SELECT id FROM deg)",
        "nv AS (SELECT cast(count(*) AS double) AS n FROM verts)",
        "od AS (SELECT src AS id, cast(count(*) AS double) AS out_deg FROM edges GROUP BY src)",
        "pr0 AS (SELECT id, 1.0 / nv.n AS rank FROM verts CROSS JOIN nv)",
    ]
    for k in range(1, n_iter + 1):
        parts.append(_pr_step(f"pr{k - 1}", f"pr{k}", damping))
    return (
        f"WITH {', '.join(parts)} "
        f"SELECT id, printf('%.{decimals}f', rank) AS rank_s FROM pr{n_iter}"
    )


def wpr_sql(n_iter: int, damping: float = 0.85, decimals: int = 6) -> str:
    """Unrolled weighted PageRank (edge weight = 1 + (src+dst) % 5;
    contrib ∝ w/W_out) — oracle for
    ``algorithms.pagerank.pagerank(weight="w")``."""
    parts = [
        GRAPH_CTES,
        "verts AS (SELECT id FROM deg)",
        "nv AS (SELECT cast(count(*) AS double) AS n FROM verts)",
        "we AS MATERIALIZED (SELECT src, dst, 1 + (src + dst) % 5 AS w FROM edges)",
        "od AS (SELECT src AS id, cast(sum(w) AS double) AS w_out FROM we GROUP BY src)",
        "wpr0 AS (SELECT id, 1.0 / nv.n AS rank FROM verts CROSS JOIN nv)",
    ]
    for k in range(1, n_iter + 1):
        prev, step = f"wpr{k - 1}", f"wpr{k}"
        parts.append(
            f"""
dang_{step} AS (
  SELECT coalesce(sum(r.rank), 0.0) AS mass
  FROM {prev} r LEFT JOIN od ON od.id = r.id WHERE od.w_out IS NULL
),
contrib_{step} AS (
  SELECT e.dst AS id, sum((r.rank / od.w_out) * e.w) AS c
  FROM we e JOIN {prev} r ON r.id = e.src JOIN od ON od.id = e.src
  GROUP BY e.dst
),
{step} AS MATERIALIZED (
  SELECT v.id,
         (1.0 - {damping}) / nv.n + {damping} * (coalesce(c.c, 0.0) + d.mass / nv.n) AS rank
  FROM verts v CROSS JOIN nv CROSS JOIN dang_{step} d
  LEFT JOIN contrib_{step} c ON c.id = v.id
)
""".strip()
        )
    return (
        f"WITH {', '.join(parts)} "
        f"SELECT id, printf('%.{decimals}f', rank) AS rank_s FROM wpr{n_iter}"
    )


def ppr_sql(
    n_iter: int, mod: int = 50, damping: float = 0.85, decimals: int = 6
) -> str:
    """Unrolled personalized PageRank (teleport set = ids ≡ 0 mod
    ``mod``): oracle for ``algorithms.pagerank.pagerank(sources=...)``."""
    parts = [
        GRAPH_CTES,
        f"sv AS (SELECT id, (CASE WHEN id % {mod} = 0 THEN 1.0 ELSE 0.0 END) AS s FROM deg)",
        "ns AS (SELECT sum(s) AS n FROM sv)",
        "od AS (SELECT src AS id, cast(count(*) AS double) AS out_deg FROM edges GROUP BY src)",
        "pr0 AS (SELECT id, s / ns.n AS rank, s FROM sv CROSS JOIN ns)",
    ]
    for k in range(1, n_iter + 1):
        prev, step = f"pr{k - 1}", f"pr{k}"
        parts.append(
            f"""
dang_{step} AS (
  SELECT coalesce(sum(r.rank), 0.0) AS mass
  FROM {prev} r LEFT JOIN od ON od.id = r.id WHERE od.out_deg IS NULL
),
contrib_{step} AS (
  SELECT e.dst AS id, sum(r.rank / od.out_deg) AS c
  FROM edges e JOIN {prev} r ON r.id = e.src JOIN od ON od.id = e.src
  GROUP BY e.dst
),
{step} AS (
  SELECT v.id,
         ((1.0 - {damping}) / ns.n + {damping} * d.mass / ns.n) * v.s
           + {damping} * coalesce(c.c, 0.0) AS rank,
         v.s
  FROM sv v CROSS JOIN ns CROSS JOIN dang_{step} d
  LEFT JOIN contrib_{step} c ON c.id = v.id
)
""".strip()
        )
    return (
        f"WITH {', '.join(parts)} "
        f"SELECT id, printf('%.{decimals}f', rank) AS rank_s FROM pr{n_iter}"
    )


def hits_sql(n_iter: int, decimals: int = 6) -> str:
    """Unrolled HITS with per-half-step L1 normalization (oracle for
    ``algorithms.hits.hits``)."""
    parts = [
        GRAPH_CTES,
        "verts AS (SELECT id FROM deg)",
        "nv AS (SELECT cast(count(*) AS double) AS n FROM verts)",
        "s0 AS (SELECT id, 1.0 / nv.n AS hub, 1.0 / nv.n AS auth "
        "FROM verts CROSS JOIN nv)",
    ]
    for k in range(1, n_iter + 1):
        prev, step = f"s{k - 1}", f"s{k}"
        parts.append(
            f"""
araw_{step} AS MATERIALIZED (
  SELECT e.dst AS id, sum(p.hub) AS a_raw
  FROM edges e JOIN {prev} p ON p.id = e.src GROUP BY e.dst
),
asum_{step} AS (SELECT coalesce(sum(a_raw), 1.0) AS s FROM araw_{step}),
wa_{step} AS MATERIALIZED (
  SELECT v.id, v.hub, coalesce(a.a_raw, 0.0) / n.s AS auth
  FROM {prev} v CROSS JOIN asum_{step} n
  LEFT JOIN araw_{step} a ON a.id = v.id
),
hraw_{step} AS MATERIALIZED (
  SELECT e.src AS id, sum(w.auth) AS h_raw
  FROM edges e JOIN wa_{step} w ON w.id = e.dst GROUP BY e.src
),
hsum_{step} AS (SELECT coalesce(sum(h_raw), 1.0) AS s FROM hraw_{step}),
{step} AS MATERIALIZED (
  SELECT v.id, coalesce(h.h_raw, 0.0) / n.s AS hub, v.auth
  FROM wa_{step} v CROSS JOIN hsum_{step} n
  LEFT JOIN hraw_{step} h ON h.id = v.id
)
""".strip()
        )
    return (
        f"WITH {', '.join(parts)} "
        f"SELECT id, printf('%.{decimals}f', hub) AS hub_s, "
        f"printf('%.{decimals}f', auth) AS auth_s FROM s{n_iter}"
    )


def salsa_sql(n_iter: int, decimals: int = 6) -> str:
    """Unrolled SALSA with per-half-step L1 normalization (oracle for
    ``algorithms.hits.salsa``) — HITS with contributions divided by
    the contributing vertex's out/in degree."""
    parts = [
        GRAPH_CTES,
        "verts AS (SELECT id FROM deg)",
        "nv AS (SELECT cast(count(*) AS double) AS n FROM verts)",
        "od AS (SELECT src, count(*) AS od FROM edges GROUP BY src)",
        "idg AS (SELECT dst, count(*) AS idg FROM edges GROUP BY dst)",
        "ew AS MATERIALIZED (SELECT e.src, e.dst, o.od, i.idg FROM edges e "
        "JOIN od o ON o.src = e.src JOIN idg i ON i.dst = e.dst)",
        "s0 AS (SELECT id, 1.0 / nv.n AS hub, 1.0 / nv.n AS auth "
        "FROM verts CROSS JOIN nv)",
    ]
    for k in range(1, n_iter + 1):
        prev, step = f"s{k - 1}", f"s{k}"
        parts.append(
            f"""
araw_{step} AS MATERIALIZED (
  SELECT e.dst AS id, sum(p.hub / e.od) AS a_raw
  FROM ew e JOIN {prev} p ON p.id = e.src GROUP BY e.dst
),
asum_{step} AS (SELECT coalesce(sum(a_raw), 1.0) AS s FROM araw_{step}),
wa_{step} AS MATERIALIZED (
  SELECT v.id, v.hub, coalesce(a.a_raw, 0.0) / n.s AS auth
  FROM {prev} v CROSS JOIN asum_{step} n
  LEFT JOIN araw_{step} a ON a.id = v.id
),
hraw_{step} AS MATERIALIZED (
  SELECT e.src AS id, sum(w.auth / e.idg) AS h_raw
  FROM ew e JOIN wa_{step} w ON w.id = e.dst GROUP BY e.src
),
hsum_{step} AS (SELECT coalesce(sum(h_raw), 1.0) AS s FROM hraw_{step}),
{step} AS MATERIALIZED (
  SELECT v.id, coalesce(h.h_raw, 0.0) / n.s AS hub, v.auth
  FROM wa_{step} v CROSS JOIN hsum_{step} n
  LEFT JOIN hraw_{step} h ON h.id = v.id
)
""".strip()
        )
    return (
        f"WITH {', '.join(parts)} "
        f"SELECT id, printf('%.{decimals}f', hub) AS hub_s, "
        f"printf('%.{decimals}f', auth) AS auth_s FROM s{n_iter}"
    )


CLUSTERING_SQL = f"""
WITH {GRAPH_CTES}, {TRI_SQL},
per_v AS (
  SELECT id, count(*) AS tri_cnt FROM (
    SELECT u AS id FROM tri
    UNION ALL SELECT v AS id FROM tri
    UNION ALL SELECT w AS id FROM tri
  ) GROUP BY id
)
SELECT d.id, coalesce(p.tri_cnt, 0) AS tri_cnt,
       (20000 * coalesce(p.tri_cnt, 0)) // (d.deg * (d.deg - 1)) AS lcc_bp
FROM deg d LEFT JOIN per_v p ON p.id = d.id
WHERE d.deg >= 2
""".strip()


# ------------------------------------------------------------- documents

# shared CTEs over the documents table: words → distinct 3-gram shingles
DOC_SHINGLES = """
w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
sh AS (
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM w, unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS t(i)
)
""".strip()

EXACT_DEDUP_SQL = """
SELECT min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
""".strip()

TOKEN_COUNT_SQL = r"""
SELECT doc_id,
       len(string_split(text, ' '))::BIGINT AS n_tokens,
       len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))::BIGINT AS n_pieces
FROM documents
""".strip()

def dup_spans_sql(n: int = 8) -> str:
    """DuckDB oracle for :func:`textops.dedup.dup_ngram_spans`: same
    three passes (positioned n-grams -> cross-doc duplicated grams ->
    per-doc rollup + token coverage), joined on the raw gram text
    (Spark joins on its md5 — outputs are identical)."""
    m = n - 1
    return f"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), g AS (
  SELECT doc_id, i AS pos, array_to_string(toks[i:i+{m}], ' ') AS gram
  FROM w, UNNEST(generate_series(1, len(toks) - {m})) AS t(i)
  WHERE len(toks) >= {n}
), dup AS (
  SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
), marked AS (
  SELECT g.doc_id, g.pos, (dup.gram IS NOT NULL) AS is_dup
  FROM g LEFT JOIN dup ON g.gram = dup.gram
), cov AS (
  SELECT doc_id, COUNT(DISTINCT tp)::BIGINT AS dup_tokens
  FROM marked, UNNEST(generate_series(pos, pos + {m})) AS u(tp)
  WHERE is_dup GROUP BY doc_id
), agg AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n_grams,
         SUM(CASE WHEN is_dup THEN 1 ELSE 0 END)::BIGINT AS dup_grams
  FROM marked GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(a.n_grams, 0)::BIGINT AS n_grams,
       COALESCE(a.dup_grams, 0)::BIGINT AS dup_grams,
       COALESCE(c.dup_tokens, 0)::BIGINT AS dup_tokens
FROM documents d LEFT JOIN agg a USING (doc_id) LEFT JOIN cov c ON d.doc_id = c.doc_id
""".strip()


def contamination_sql(n: int = 4, eval_mod: int = 50) -> str:
    """Oracle for :func:`textops.dedup.contamination` with eval set =
    ``doc_id % eval_mod == 0`` (train = the rest)."""
    m = n - 1
    return f"""
WITH wtr AS (SELECT doc_id, string_split(text, ' ') AS toks
             FROM documents WHERE doc_id % {eval_mod} <> 0),
wev AS (SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents WHERE doc_id % {eval_mod} = 0),
ev AS (SELECT DISTINCT array_to_string(toks[i:i+{m}], ' ') AS g
       FROM wev, UNNEST(generate_series(1, len(toks)-{m})) t(i)
       WHERE len(toks) >= {n}),
tr AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+{m}], ' ') AS g
       FROM wtr, UNNEST(generate_series(1, len(toks)-{m})) t(i)
       WHERE len(toks) >= {n}),
agg AS (SELECT tr.doc_id, COUNT(*)::BIGINT AS n_grams,
               SUM(CASE WHEN ev.g IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS hit_grams
        FROM tr LEFT JOIN ev USING (g) GROUP BY tr.doc_id)
SELECT d.doc_id, COALESCE(a.n_grams, 0)::BIGINT AS n_grams,
       COALESCE(a.hit_grams, 0)::BIGINT AS hit_grams
FROM (SELECT doc_id FROM documents WHERE doc_id % {eval_mod} <> 0) d
LEFT JOIN agg a USING (doc_id)
""".strip()


GOPHER_REP_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
g2 AS (SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS g
       FROM w, UNNEST(generate_series(1, len(toks)-1)) AS t(i) WHERE len(toks) >= 2),
g3 AS (SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS g
       FROM w, UNNEST(generate_series(1, len(toks)-2)) AS t(i) WHERE len(toks) >= 3),
g5 AS (SELECT doc_id, i AS pos, array_to_string(toks[i:i+4], ' ') AS g
       FROM w, UNNEST(generate_series(1, len(toks)-4)) AS t(i) WHERE len(toks) >= 5),
t2 AS (SELECT doc_id, max(cnt) AS c FROM (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY 1,2) GROUP BY 1),
t3 AS (SELECT doc_id, max(cnt) AS c FROM (SELECT doc_id, g, count(*) AS cnt FROM g3 GROUP BY 1,2) GROUP BY 1),
r5k AS (SELECT doc_id, g FROM g5 GROUP BY doc_id, g HAVING count(*) >= 2),
r5 AS (SELECT g5.doc_id, count(DISTINCT tp) AS c
       FROM g5 JOIN r5k ON g5.doc_id = r5k.doc_id AND g5.g = r5k.g,
            UNNEST(generate_series(g5.pos, g5.pos + 4)) AS u(tp)
       GROUP BY 1)
SELECT d.doc_id, len(string_split(d.text, ' '))::BIGINT AS n_tokens,
  (10000 * 2 * COALESCE(t2.c, 0)) // len(string_split(d.text, ' ')) AS top2_bp,
  (10000 * 3 * COALESCE(t3.c, 0)) // len(string_split(d.text, ' ')) AS top3_bp,
  (10000 * COALESCE(r5.c, 0)) // len(string_split(d.text, ' ')) AS rep5_bp
FROM documents d LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
     LEFT JOIN r5 USING (doc_id)
""".strip()


QUALITY_SQL = """
SELECT doc_id,
       len(string_split(text, ' '))::BIGINT AS n_tokens,
       (10000 * (length(text) - (len(string_split(text, ' ')) - 1)))
         // len(string_split(text, ' ')) AS mean_token_len_bp,
       (10000 * ({stop})) // len(string_split(text, ' ')) AS stopword_ratio_bp,
       (10000 * length(regexp_replace(text, '[^a-zA-Z]', '', 'g')))
         // length(text) AS alpha_ratio_bp
FROM documents
""".strip()


def quality_sql(stopwords: list[str]) -> str:
    stop = " + ".join(
        f"len(list_filter(string_split(text, ' '), x -> x = '{w}'))"
        for w in stopwords
    )
    return QUALITY_SQL.replace("{stop}", stop)


def langid_sql(markers: dict[str, list[str]]) -> str:
    langs = sorted(markers)
    hits = ", ".join(
        "("
        + " + ".join(
            f"len(list_filter(string_split(text, ' '), x -> x = '{w}'))"
            for w in markers[lang]
        )
        + f") AS hits_{lang}"
        for lang in langs
    )
    best = f"greatest({', '.join('hits_' + lang for lang in langs)})"
    n_at_max = " + ".join(
        f"(CASE WHEN hits_{lang} = {best} THEN 1 ELSE 0 END)" for lang in langs
    )
    pred = "'und'"
    for lang in reversed(langs):
        pred = f"CASE WHEN hits_{lang} = {best} THEN '{lang}' ELSE {pred} END"
    return f"""
WITH scored AS (SELECT doc_id, {hits} FROM documents)
SELECT doc_id,
       CASE WHEN {best} > 0 AND ({n_at_max}) = 1 THEN {pred} ELSE 'und' END AS pred_lang,
       {best}::BIGINT AS n_hits
FROM scored
""".strip()


FINGERPRINT_SQL = f"""
WITH {DOC_SHINGLES},
ranked AS (
  SELECT doc_id, md5(shingle) AS h,
         row_number() OVER (PARTITION BY doc_id ORDER BY md5(shingle)) AS rn
  FROM sh
),
sk AS (
  SELECT doc_id, string_agg(h, ',' ORDER BY h) AS sketch
  FROM ranked WHERE rn <= 4 GROUP BY doc_id
)
SELECT d.doc_id,
       md5(lower(regexp_replace(d.text, '[^a-zA-Z0-9 ]', '', 'g'))) AS content_md5,
       coalesce(sk.sketch, '') AS sketch
FROM documents d LEFT JOIN sk ON sk.doc_id = d.doc_id
""".strip()


def text_stats_sql(stopwords: list[str], markers: dict[str, list[str]]) -> str:
    """Oracle for ``quality.text_stats`` — the four per-doc oracles
    composed as nested CTE subqueries joined on doc_id."""
    return f"""
WITH q AS ({quality_sql(stopwords)}),
t AS ({TOKEN_COUNT_SQL}),
l AS ({langid_sql(markers)}),
f AS ({FINGERPRINT_SQL})
SELECT q.doc_id, q.n_tokens, q.mean_token_len_bp, q.stopword_ratio_bp,
       q.alpha_ratio_bp, t.n_pieces, l.pred_lang, l.n_hits,
       f.content_md5, f.sketch
FROM q
JOIN t ON t.doc_id = q.doc_id
JOIN l ON l.doc_id = q.doc_id
JOIN f ON f.doc_id = q.doc_id
""".strip()


def minhash_sql(num_hashes: int) -> str:
    return f"""
WITH {DOC_SHINGLES}
SELECT doc_id, s AS seed, min(md5(s || ':' || shingle)) AS mh
FROM sh, unnest(generate_series(0, {num_hashes - 1})) AS t(s)
GROUP BY doc_id, s
""".strip()


def lsh_neardup_sql(
    threshold: float, num_hashes: int = 16, rows_per_band: int = 4
) -> str:
    """MinHash → LSH bands → candidate pairs → exact-Jaccard verify."""
    return f"""
WITH {DOC_SHINGLES},
sig AS (
  SELECT doc_id, s AS seed, min(md5(s || ':' || shingle)) AS mh
  FROM sh, unnest(generate_series(0, {num_hashes - 1})) AS t(s)
  GROUP BY doc_id, s
),
buckets AS (
  SELECT doc_id, seed // {rows_per_band} AS band,
         md5(string_agg(mh, ',' ORDER BY seed)) AS bucket
  FROM sig GROUP BY doc_id, seed // {rows_per_band}
),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM buckets l JOIN buckets r
    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
),
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  JOIN cand ON cand.a = x.doc_id AND cand.b = y.doc_id
  GROUP BY x.doc_id, y.doc_id
)
SELECT inter.a, inter.b,
       printf('%.6f', c / (sa.n + sb.n - c)::DOUBLE) AS jaccard_s
FROM inter
JOIN sz sa ON sa.doc_id = inter.a
JOIN sz sb ON sb.doc_id = inter.b
WHERE c / (sa.n + sb.n - c)::DOUBLE >= {threshold}
""".strip()


def jaccard_all_pairs_sql(threshold: float) -> str:
    return f"""
WITH {DOC_SHINGLES},
sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
)
SELECT inter.a, inter.b,
       printf('%.6f', c / (sa.n + sb.n - c)::DOUBLE) AS jaccard_s
FROM inter
JOIN sz sa ON sa.doc_id = inter.a
JOIN sz sb ON sb.doc_id = inter.b
WHERE c / (sa.n + sb.n - c)::DOUBLE >= {threshold}
""".strip()


SIMHASH_SQL = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
h AS (
  SELECT doc_id, cast(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
  FROM toks
),
bits AS (
  SELECT doc_id, i,
         sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM h, unnest(generate_series(0, 59)) AS t(i)
  GROUP BY doc_id, i
)
SELECT doc_id,
       sum(CASE WHEN v > 0 THEN (1::BIGINT << i) ELSE 0 END)::BIGINT AS simhash
FROM bits GROUP BY doc_id
""".strip()


def simhash_neardup_sql(max_hamming: int) -> str:
    return f"""
WITH _sh AS ({SIMHASH_SQL}),
blocks AS (
  SELECT doc_id, simhash, i AS blk,
         (simhash >> (15 * i)) & 32767 AS key
  FROM _sh, unnest(generate_series(0, 3)) AS t(i)
),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
         l.simhash AS ha, r.simhash AS hb
  FROM blocks l JOIN blocks r
    ON l.blk = r.blk AND l.key = r.key AND l.doc_id < r.doc_id
)
SELECT a, b, bit_count(xor(ha, hb))::INT AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {max_hamming}
""".strip()


# ------------------------------------------------------------ embeddings


def knn_sql(k: int, n_queries: int) -> str:
    """Exact top-k cosine neighbors for vec_id < n_queries (double
    accumulation, 6-dp rounded sim, ties → smaller neighbor_id)."""
    return f"""
WITH e AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {n_queries}),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_dot_product(q.qv, e.v)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(e.v, e.v))), 6) AS sim
  FROM q JOIN e ON e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (
           PARTITION BY query_id ORDER BY sim DESC, neighbor_id
         ) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank::INT AS rank, printf('%.6f', sim) AS sim_s
FROM ranked WHERE rank <= {k}
""".strip()


def emb_neardup_sql(threshold: float, n_planes: int, dim: int) -> str:
    """Cosine ≥ threshold pairs within sign-LSH buckets (mirrors
    similarity.embedding_neardup incl. the deterministic planes)."""
    plane_cases = []
    for p in range(n_planes):
        coeffs = ", ".join(
            str((((p + 1) * 1315423911) ^ ((j + 1) * 2654435761)) % 2001 / 1000.0 - 1.0)
            for j in range(dim)
        )
        plane_cases.append(
            f"(CASE WHEN list_dot_product(v, [{coeffs}]::DOUBLE[]) >= 0 "
            f"THEN {1 << p} ELSE 0 END)"
        )
    bucket = " + ".join(plane_cases)
    return f"""
WITH e AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT vec_id, v, ({bucket})::BIGINT AS bucket FROM e),
pairs AS (
  SELECT l.vec_id AS a, r.vec_id AS b,
         round(list_dot_product(l.v, r.v)
               / (sqrt(list_dot_product(l.v, l.v))
                  * sqrt(list_dot_product(r.v, r.v))), 6) AS sim
  FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
)
SELECT DISTINCT a, b, printf('%.6f', sim) AS sim_s
FROM pairs WHERE sim >= {threshold}
""".strip()


# ---------------------------------------------------------------- events

EV_WINDOWED_SQL = """
SELECT extract(epoch FROM date_trunc('hour', ts))::BIGINT AS window_start_s,
       event_type,
       count(*) AS n,
       sum(round(value * 100)::BIGINT)::BIGINT AS total_value_c
FROM events GROUP BY 1, 2
""".strip()


def sessionize_sql(gap_minutes: int) -> str:
    return f"""
WITH lagged AS (
  -- floor(), not ::BIGINT directly: DuckDB's double→BIGINT cast rounds
  -- half-to-even while Spark's timestamp→long cast floors
  SELECT user_id, event_id, ts,
         floor(epoch(ts))::BIGINT
           - lag(floor(epoch(ts))::BIGINT)
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
),
tagged AS (
  SELECT user_id, ts,
         sum(CASE WHEN gap IS NULL OR gap > {gap_minutes * 60} THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS session_id
  FROM lagged
)
SELECT user_id, session_id::BIGINT AS session_id, count(*) AS n_events,
       floor(epoch(min(ts)))::BIGINT AS start_s,
       floor(epoch(max(ts)))::BIGINT AS end_s
FROM tagged GROUP BY user_id, session_id
""".strip()


def top_users_sql(k: int) -> str:
    return f"""
WITH agg AS (
  SELECT user_id, sum(round(value * 100)::BIGINT)::BIGINT AS total_value_c
  FROM events GROUP BY user_id
),
ranked AS (
  SELECT user_id, total_value_c,
         row_number() OVER (ORDER BY total_value_c DESC, user_id) AS rank
  FROM agg
)
SELECT user_id, total_value_c, rank::INT AS rank FROM ranked WHERE rank <= {k}
""".strip()


# ------------------------------------------------------- pattern counts

PATTERN_COUNTS_SQL = f"""
WITH {GRAPH_CTES}, {TRI_SQL},
pe AS (
  SELECT least(a, b) AS src, greatest(a, b) AS dst, count(*) AS tri_cnt
  FROM (
    SELECT u AS a, v AS b FROM tri
    UNION ALL SELECT v AS a, w AS b FROM tri
    UNION ALL SELECT u AS a, w AS b FROM tri
  ) GROUP BY 1, 2
),
ntri AS (SELECT count(*) AS t FROM tri),
wst AS (
  SELECT sum((deg * (deg - 1)) // 2)::BIGINT AS n_wedges,
         sum((deg * (deg - 1) * (deg - 2)) // 6)::BIGINT AS n_3stars
  FROM deg
),
dia AS (SELECT coalesce(sum((tri_cnt * (tri_cnt - 1)) // 2), 0)::BIGINT AS n_diamonds FROM pe),
tt AS (
  SELECT coalesce(sum(d.deg - 2), 0)::BIGINT AS n_tailed_triangles
  FROM (
    SELECT u AS id FROM tri
    UNION ALL SELECT v FROM tri
    UNION ALL SELECT w FROM tri
  ) c JOIN deg d ON d.id = c.id
),
p4 AS (
  SELECT (sum((du.deg - 1) * (dv.deg - 1)) - 3 * (SELECT t FROM ntri))::BIGINT AS n_4paths
  FROM edges e JOIN deg du ON du.id = e.src JOIN deg dv ON dv.id = e.dst
),
codeg AS (
  SELECT e1.src AS a, e2.dst AS b, count(*) AS c
  FROM sym e1 JOIN sym e2 ON e1.dst = e2.src AND e1.src < e2.dst
  GROUP BY e1.src, e2.dst
),
rect AS (
  SELECT (coalesce(sum((c * (c - 1)) // 2), 0) // 2)::BIGINT AS n_rectangles FROM codeg
)
SELECT wst.n_wedges, wst.n_3stars, ntri.t AS n_triangles, dia.n_diamonds,
       tt.n_tailed_triangles, p4.n_4paths, rect.n_rectangles
FROM wst, ntri, dia, tt, p4, rect
""".strip()


MOTIF4_SQL = f"""
WITH {GRAPH_CTES}, {TRI_SQL},
pe AS (
  SELECT least(a, b) AS src, greatest(a, b) AS dst, count(*) AS tri_cnt
  FROM (
    SELECT u AS a, v AS b FROM tri
    UNION ALL SELECT v AS a, w AS b FROM tri
    UNION ALL SELECT u AS a, w AS b FROM tri
  ) GROUP BY 1, 2
),
ntri AS (SELECT count(*) AS t FROM tri),
s3 AS (SELECT sum((deg * (deg - 1) * (deg - 2)) // 6)::BIGINT AS s3 FROM deg),
dia AS (SELECT coalesce(sum((tri_cnt * (tri_cnt - 1)) // 2), 0)::BIGINT AS d FROM pe),
tt AS (
  SELECT coalesce(sum(dd.deg - 2), 0)::BIGINT AS tt
  FROM (
    SELECT u AS id FROM tri
    UNION ALL SELECT v FROM tri
    UNION ALL SELECT w FROM tri
  ) c JOIN deg dd ON dd.id = c.id
),
p4 AS (
  SELECT (sum((du.deg - 1) * (dv.deg - 1)) - 3 * (SELECT t FROM ntri))::BIGINT AS p4
  FROM edges e JOIN deg du ON du.id = e.src JOIN deg dv ON dv.id = e.dst
),
codeg AS (
  SELECT e1.src AS a, e2.dst AS b, count(*) AS c
  FROM sym e1 JOIN sym e2 ON e1.dst = e2.src AND e1.src < e2.dst
  GROUP BY e1.src, e2.dst
),
rect AS (
  SELECT (coalesce(sum((c * (c - 1)) // 2), 0) // 2)::BIGINT AS r FROM codeg
),
k4 AS (
  SELECT count(*) AS k4 FROM tri
  JOIN dag e4 ON e4.src = tri.u
  JOIN dag e5 ON e5.src = tri.v AND e5.dst = e4.dst
  JOIN dag e6 ON e6.src = tri.w AND e6.dst = e4.dst
),
base AS (SELECT * FROM s3, dia, tt, p4, rect, k4),
c1 AS (SELECT *, d - 6 * k4 AS i_d FROM base),
c2 AS (SELECT *, r - i_d - 3 * k4 AS i_c4, tt - 4 * i_d - 12 * k4 AS i_tt FROM c1)
SELECT (p4 - 2 * i_tt - 4 * i_c4 - 6 * i_d - 12 * k4)::BIGINT AS n_4paths_ind,
       (s3 - i_tt - 2 * i_d - 4 * k4)::BIGINT AS n_3stars_ind,
       i_c4::BIGINT AS n_4cycles_ind,
       i_tt::BIGINT AS n_tailed_triangles_ind,
       i_d::BIGINT AS n_diamonds_ind,
       k4::BIGINT AS n_4cliques
FROM c2
""".strip()


def lsh_ann_sql(k: int, n_planes: int, dim: int) -> str:
    """Bucketed approximate top-k (mirrors similarity.lsh_ann)."""
    plane_cases = []
    for p in range(n_planes):
        coeffs = ", ".join(
            str((((p + 1) * 1315423911) ^ ((j + 1) * 2654435761)) % 2001 / 1000.0 - 1.0)
            for j in range(dim)
        )
        plane_cases.append(
            f"(CASE WHEN list_dot_product(v, [{coeffs}]::DOUBLE[]) >= 0 "
            f"THEN {1 << p} ELSE 0 END)"
        )
    bucket = " + ".join(plane_cases)
    return f"""
WITH e AS (SELECT vec_id, cast(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT vec_id, v, ({bucket})::BIGINT AS bucket FROM e),
pairs AS (
  SELECT l.vec_id AS query_id, r.vec_id AS neighbor_id,
         round(list_dot_product(l.v, r.v)
               / (sqrt(list_dot_product(l.v, l.v))
                  * sqrt(list_dot_product(r.v, r.v))), 6) AS sim
  FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id <> r.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (
           PARTITION BY query_id ORDER BY sim DESC, neighbor_id
         ) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, rank::INT AS rank, printf('%.6f', sim) AS sim_s
FROM ranked WHERE rank <= {k}
""".strip()


def _qd(a: str, b: str) -> str:
    # exact integer squared L2 via dot products (DOUBLE-exact < 2^53)
    return (
        f"(list_dot_product({a}, {a}) - 2*list_dot_product({a}, {b})"
        f" + list_dot_product({b}, {b}))"
    )


def _kmeans_ranked_head(n_centroids: int, train_iters: int) -> str:
    """Shared k-means replay prefix for the embedding oracles: unrolls
    the deterministic Lloyd's iterations of
    ``similarity.train_ivf_centroids`` (round(x*10^4) BIGINT
    fixed-point; integer squared-L2 argmin, ties → cid;
    floor(sum/count) update, empty cell keeps its centroid — all
    arithmetic exact, so cells match Spark bit-for-bit) and ends with
    a ``ranked(vec_id, cid, d, r)`` CTE against the trained centroids.
    Callers append their own tail CTEs (comma-continue)."""
    scale = 10_000
    qd = _qd

    parts = [
        f"""
WITH e AS MATERIALIZED (
  SELECT vec_id, cast(embedding AS DOUBLE[]) AS v,
         list_transform(embedding,
                        x -> round(x::DOUBLE * {scale})::BIGINT::DOUBLE)
           AS qv
  FROM embeddings),
c0 AS (SELECT vec_id::INT AS cid, qv AS cv FROM e WHERE vec_id < {n_centroids})"""
    ]
    prev = "c0"
    for i in range(1, train_iters + 1):
        parts.append(
            f"""
a{i} AS MATERIALIZED (
  SELECT vec_id, qv, cid FROM (
    SELECT e.vec_id, e.qv, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY {qd('e.qv', 'c.cv')}, c.cid) AS r
    FROM e, {prev} c) WHERE r = 1),
s{i} AS (
  SELECT cid, pos, floor(sum(val) / count(*)) AS m
  FROM (SELECT cid, unnest(qv) AS val, generate_subscripts(qv, 1) AS pos
        FROM a{i})
  GROUP BY cid, pos),
c{i} AS MATERIALIZED (
  SELECT c.cid,
         CASE WHEN count(s{i}.m) = 0 THEN first(c.cv)
              ELSE list(s{i}.m ORDER BY s{i}.pos) END AS cv
  FROM {prev} c LEFT JOIN s{i} USING (cid) GROUP BY c.cid)"""
        )
        prev = f"c{i}"
    parts.append(
        f"""
ranked AS (
  SELECT e.vec_id, c.cid, {qd('e.qv', 'c.cv')} AS d,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {qd('e.qv', 'c.cv')}, c.cid) AS r
  FROM e, {prev} c
)"""
    )
    return ",".join(parts)


def ivf_ann_sql(
    k: int, n_centroids: int, n_probe: int, train_iters: int = 2
) -> str:
    """Mirrors similarity.ivf_ann with the TRAINED quantizer (replay
    head: :func:`_kmeans_ranked_head`)."""
    head = _kmeans_ranked_head(n_centroids, train_iters)
    return f"""{head},
assign AS (SELECT vec_id, cid FROM ranked WHERE r = 1),
probes AS (SELECT vec_id AS query_id, cid FROM ranked WHERE r <= {n_probe}),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assign a ON a.cid = p.cid
  WHERE a.vec_id <> p.query_id
),
scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         round(list_dot_product(q.v, n.v)
               / (sqrt(list_dot_product(q.v, q.v))
                  * sqrt(list_dot_product(n.v, n.v))), 6) AS sim
  FROM cand JOIN e q ON q.vec_id = cand.query_id
  JOIN e n ON n.vec_id = cand.neighbor_id
),
rr AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (
           PARTITION BY query_id ORDER BY sim DESC, neighbor_id
         ) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank::INT AS rank, printf('%.6f', sim) AS sim_s
FROM rr WHERE rank <= {k}
""".strip()


def semdedup_sql(
    n_clusters: int, tau: float, train_iters: int = 2
) -> str:
    """Mirrors similarity.semantic_dedup: trained k-means cells
    (shared replay head), NeMo-Curator greedy order within each cell
    (distance-to-centroid ASC, ties → vec_id), drop when max cosine to
    any earlier-ranked cell member rounds to ≥ tau."""
    head = _kmeans_ranked_head(n_clusters, train_iters)
    return f"""{head},
assign AS (SELECT vec_id, cid, d FROM ranked WHERE r = 1),
ordr AS MATERIALIZED (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY cid ORDER BY d, vec_id) AS rnk
  FROM assign),
ms AS (
  SELECT b.vec_id,
         max(round(list_dot_product(ea.v, eb.v)
                   / (sqrt(list_dot_product(ea.v, ea.v))
                      * sqrt(list_dot_product(eb.v, eb.v))), 6)) AS msim
  FROM ordr a JOIN ordr b ON a.cid = b.cid AND a.rnk < b.rnk
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
  GROUP BY b.vec_id)
SELECT o.vec_id, o.cid::INT AS cid,
       (CASE WHEN ms.msim >= {tau} THEN 0 ELSE 1 END)::INT AS keep
FROM ordr o LEFT JOIN ms USING (vec_id)
""".strip()


def clique_sql(k: int) -> str:
    """k-clique count over the DAG: all-pairs join conditions among
    v1..vk (mirrors algorithms.patterns.clique_count)."""
    joins = ["FROM dag d12"]
    defs = {1: "d12.src", 2: "d12.dst"}
    for i in range(3, k + 1):
        conds = [f"d1{i}.src = {defs[1]}"]
        defs[i] = f"d1{i}.dst"
        joins.append(f"JOIN dag d1{i} ON {' AND '.join(conds)}")
        for j in range(2, i):
            joins.append(
                f"JOIN dag d{j}{i} ON d{j}{i}.src = {defs[j]} "
                f"AND d{j}{i}.dst = {defs[i]}"
            )
    body = " ".join(joins)
    return graph_query(f"SELECT count(*) AS n_{k}cliques {body}")


def labeled_tri_sql(la: int, lb: int, lc: int, n_classes: int = 7) -> str:
    return graph_query(
        f"SELECT count(*) AS n_matches FROM tri "
        f"WHERE u % {n_classes} = {la} AND v % {n_classes} = {lb} "
        f"AND w % {n_classes} = {lc}",
        with_tri=True,
    )


def fsm_2edge_support_sql(
    minsup: int, n_classes: int = 7, divisor: int = 60
) -> str:
    """Labeled-wedge MNI support (mirrors patterns.fsm_2edge_support;
    the anti-monotone pruning step is omitted — it cannot change which
    patterns clear minsup)."""
    return graph_query(
        f"""
        SELECT la, lb, lc, support FROM (
          SELECT e1.src % {n_classes} AS la,
                 e1.dst % {n_classes} AS lb,
                 e2.dst % {n_classes} AS lc,
                 least(count(DISTINCT e1.src), count(DISTINCT e1.dst),
                       count(DISTINCT e2.dst)) AS support
          FROM sym e1 JOIN sym e2 ON e1.dst = e2.src
          WHERE e1.src <> e2.dst
            AND e1.src % {n_classes} <= e2.dst % {n_classes}
          GROUP BY 1, 2, 3
        ) WHERE support >= {minsup}
        """,
        divisor=divisor,
    )


def fsm_3edge_support_sql(
    minsup: int, n_classes: int = 7, divisor: int = 60
) -> str:
    """All 3-edge shapes (triangle / 3-star / 4-path) with MNI support
    (mirrors patterns.fsm_3edge_support, same canonical forms)."""
    m = n_classes
    return graph_query(
        f"""
        SELECT shape, p1, p2, p3, p4, support FROM (
          SELECT 'triangle' AS shape,
                 e1.src % {m} AS p1, e1.dst % {m} AS p2, e2.dst % {m} AS p3,
                 -1 AS p4,
                 least(count(DISTINCT e1.src), count(DISTINCT e1.dst),
                       count(DISTINCT e2.dst)) AS support
          FROM sym e1
          JOIN sym e2 ON e1.dst = e2.src
          JOIN sym e3 ON e3.src = e1.src AND e3.dst = e2.dst
          WHERE e1.src % {m} <= e1.dst % {m} AND e1.dst % {m} <= e2.dst % {m}
          GROUP BY 1, 2, 3, 4
          UNION ALL
          SELECT 'star',
                 e1.src % {m}, e1.dst % {m}, e2.dst % {m}, e3.dst % {m},
                 least(count(DISTINCT e1.src), count(DISTINCT e1.dst),
                       count(DISTINCT e2.dst), count(DISTINCT e3.dst))
          FROM sym e1
          JOIN sym e2 ON e2.src = e1.src
          JOIN sym e3 ON e3.src = e1.src
          WHERE e1.dst <> e2.dst AND e2.dst <> e3.dst AND e1.dst <> e3.dst
            AND e1.dst % {m} <= e2.dst % {m} AND e2.dst % {m} <= e3.dst % {m}
          GROUP BY 1, 2, 3, 4, 5
          UNION ALL
          SELECT 'path',
                 e1.src % {m}, e1.dst % {m}, e2.dst % {m}, e3.dst % {m},
                 least(count(DISTINCT e1.src), count(DISTINCT e1.dst),
                       count(DISTINCT e2.dst), count(DISTINCT e3.dst))
          FROM sym e1
          JOIN sym e2 ON e2.src = e1.dst
          JOIN sym e3 ON e3.src = e2.dst
          WHERE e1.src <> e2.dst AND e1.dst <> e3.dst AND e1.src <> e3.dst
            AND (e1.src % {m} < e3.dst % {m}
                 OR (e1.src % {m} = e3.dst % {m}
                     AND e1.dst % {m} <= e2.dst % {m}))
          GROUP BY 1, 2, 3, 4, 5
        ) WHERE support >= {minsup}
        """,
        divisor=divisor,
    )


def fsm_4edge_support_sql(
    minsup: int | str,
    n_classes: int = 7,
    divisor: int = 60,
    scramble: bool = False,
    sample_mod: int | None = None,
) -> str:
    """All five 4-edge shapes (path5 / star4 / chair / cycle4 / paw)
    with MNI support — mirrors ``fsm_general.fsm_4edge_support``: the
    orientation-inclusive enumeration keeps every canonical-achieving
    role assignment, so tied-label symmetric positions union their
    domains exactly as the engine's orbit merge does."""
    m = n_classes
    return graph_query(
        f"""
        SELECT shape, q1, q2, q3, q4, q5, support FROM (
          -- path5 a-b-c-d-e: label tuple <= its reverse
          SELECT 'path5' AS shape,
                 e1.src % {m} AS q1, e1.dst % {m} AS q2, e2.dst % {m} AS q3,
                 e3.dst % {m} AS q4, e4.dst % {m} AS q5,
                 least(count(DISTINCT e1.src), count(DISTINCT e1.dst),
                       count(DISTINCT e2.dst), count(DISTINCT e3.dst),
                       count(DISTINCT e4.dst)) AS support
          FROM sym e1
          JOIN sym e2 ON e2.src = e1.dst
          JOIN sym e3 ON e3.src = e2.dst
          JOIN sym e4 ON e4.src = e3.dst
          WHERE e1.src NOT IN (e2.dst, e3.dst, e4.dst)
            AND e1.dst NOT IN (e3.dst, e4.dst)
            AND e2.dst <> e4.dst
            AND [e1.src % {m}, e1.dst % {m}, e2.dst % {m}, e3.dst % {m},
                 e4.dst % {m}]
                <= [e4.dst % {m}, e3.dst % {m}, e2.dst % {m}, e1.dst % {m},
                    e1.src % {m}]
          GROUP BY 1, 2, 3, 4, 5, 6
          UNION ALL
          -- star4: center + 4 pairwise-distinct leaves, labels sorted
          SELECT 'star4',
                 e1.src % {m}, e1.dst % {m}, e2.dst % {m}, e3.dst % {m},
                 e4.dst % {m},
                 least(count(DISTINCT e1.src), count(DISTINCT e1.dst),
                       count(DISTINCT e2.dst), count(DISTINCT e3.dst),
                       count(DISTINCT e4.dst))
          FROM sym e1
          JOIN sym e2 ON e2.src = e1.src
          JOIN sym e3 ON e3.src = e1.src
          JOIN sym e4 ON e4.src = e1.src
          WHERE e1.dst NOT IN (e2.dst, e3.dst, e4.dst)
            AND e2.dst NOT IN (e3.dst, e4.dst) AND e3.dst <> e4.dst
            AND e1.dst % {m} <= e2.dst % {m}
            AND e2.dst % {m} <= e3.dst % {m}
            AND e3.dst % {m} <= e4.dst % {m}
          GROUP BY 1, 2, 3, 4, 5, 6
          UNION ALL
          -- chair: y-x-c(-l1)(-l2), leaf labels sorted
          SELECT 'chair',
                 ey.dst % {m}, ex.dst % {m}, ex.src % {m},
                 el1.dst % {m}, el2.dst % {m},
                 least(count(DISTINCT ey.dst), count(DISTINCT ex.dst),
                       count(DISTINCT ex.src), count(DISTINCT el1.dst),
                       count(DISTINCT el2.dst))
          FROM sym ex
          JOIN sym ey ON ey.src = ex.dst
          JOIN sym el1 ON el1.src = ex.src
          JOIN sym el2 ON el2.src = ex.src
          WHERE ey.dst <> ex.src
            AND el1.dst NOT IN (ex.dst, ey.dst, el2.dst)
            AND el2.dst NOT IN (ex.dst, ey.dst)
            AND el1.dst % {m} <= el2.dst % {m}
          GROUP BY 1, 2, 3, 4, 5, 6
          UNION ALL
          -- cycle4: label tuple minimal over the dihedral group D4
          SELECT 'cycle4',
                 e1.src % {m}, e1.dst % {m}, e2.dst % {m}, e3.dst % {m},
                 -1,
                 least(count(DISTINCT e1.src), count(DISTINCT e1.dst),
                       count(DISTINCT e2.dst), count(DISTINCT e3.dst))
          FROM sym e1
          JOIN sym e2 ON e2.src = e1.dst
          JOIN sym e3 ON e3.src = e2.dst
          JOIN sym e4 ON e4.src = e3.dst AND e4.dst = e1.src
          WHERE e1.src <> e2.dst AND e1.dst <> e3.dst
            AND [e1.src % {m}, e1.dst % {m}, e2.dst % {m}, e3.dst % {m}] <= ALL (
              SELECT t FROM (VALUES
                ([e1.dst % {m}, e2.dst % {m}, e3.dst % {m}, e1.src % {m}]),
                ([e2.dst % {m}, e3.dst % {m}, e1.src % {m}, e1.dst % {m}]),
                ([e3.dst % {m}, e1.src % {m}, e1.dst % {m}, e2.dst % {m}]),
                ([e3.dst % {m}, e2.dst % {m}, e1.dst % {m}, e1.src % {m}]),
                ([e2.dst % {m}, e1.dst % {m}, e1.src % {m}, e3.dst % {m}]),
                ([e1.dst % {m}, e1.src % {m}, e3.dst % {m}, e2.dst % {m}]),
                ([e1.src % {m}, e3.dst % {m}, e2.dst % {m}, e1.dst % {m}])
              ) AS v(t))
          GROUP BY 1, 2, 3, 4, 5, 6
          UNION ALL
          -- paw: pendant p on triangle corner u, triangle labels sorted
          SELECT 'paw',
                 ep.dst % {m}, e1.src % {m}, e1.dst % {m}, e2.dst % {m},
                 -1,
                 least(count(DISTINCT ep.dst), count(DISTINCT e1.src),
                       count(DISTINCT e1.dst), count(DISTINCT e2.dst))
          FROM sym e1
          JOIN sym e2 ON e2.src = e1.src
          JOIN sym e3 ON e3.src = e1.dst AND e3.dst = e2.dst
          JOIN sym ep ON ep.src = e1.src
          WHERE ep.dst NOT IN (e1.dst, e2.dst)
            AND e1.dst % {m} <= e2.dst % {m}
          GROUP BY 1, 2, 3, 4, 5, 6
        ) WHERE support >= {minsup}
        """,
        divisor=divisor,
        scramble=scramble,
        sample_mod=sample_mod,
    )


def feat_agg_sql(hops: int = 2, dim: int = 4) -> str:
    """Oracle for ``features.propagate_features_flat`` over the
    synthetic integer features: per hop, basis-point neighbor mean
    ``(10000·Σ) // deg`` — integer arithmetic, exact cross-engine."""
    dims = ", ".join(f"({d})" for d in range(dim))
    parts = [
        f"dims AS (SELECT * FROM (VALUES {dims}) t(d))",
        "f0 AS MATERIALIZED (SELECT id, d, (id * 31 + d * 17) % 1000 AS val "
        "FROM deg CROSS JOIN dims)",
    ]
    prev = "f0"
    for h in range(1, hops + 1):
        parts.append(
            # ::BIGINT — sum() is HUGEINT in DuckDB, which pandas turns
            # into float64 and the stringified hash would see "x.0"
            f"h{h} AS MATERIALIZED (SELECT s.src AS id, f.d, "
            f"((10000 * sum(f.val)) // count(*))::BIGINT AS val "
            f"FROM sym s JOIN {prev} f ON f.id = s.dst GROUP BY 1, 2)"
        )
        prev = f"h{h}"
    # body continues the WITH list, then selects the final hop
    return graph_query(
        ", " + ", ".join(parts) + f" SELECT id, d, val FROM {prev}"
    )


def fsm_edge_support_sql(minsup: int, n_classes: int = 7) -> str:
    return graph_query(
        f"""
        SELECT la, lb, support FROM (
          SELECT (src % {n_classes})::INT AS la, (dst % {n_classes})::INT AS lb,
                 least(count(DISTINCT src), count(DISTINCT dst)) AS support
          FROM sym WHERE src % {n_classes} <= dst % {n_classes}
          GROUP BY 1, 2
        ) WHERE support >= {minsup}
        """
    )


def fsm_elabel_support_sql(
    minsup: int, n_classes: int = 7, n_elabels: int = 5
) -> str:
    """Oracle for ``patterns.fsm_elabel_support``: edge-labeled
    single-edge MNI support with elabel = (src+dst) % n_elabels."""
    return graph_query(
        f"""
        SELECT la, el, lb, support FROM (
          SELECT (src % {n_classes})::INT AS la,
                 ((src + dst) % {n_elabels})::INT AS el,
                 (dst % {n_classes})::INT AS lb,
                 least(count(DISTINCT src), count(DISTINCT dst)) AS support
          FROM sym WHERE src % {n_classes} <= dst % {n_classes}
          GROUP BY 1, 2, 3
        ) WHERE support >= {minsup}
        """
    )


def fsm_elabel_2edge_support_sql(
    minsup: int,
    n_classes: int = 7,
    n_elabels: int = 5,
    divisor: int = 60,
) -> str:
    """Oracle for ``patterns.fsm_elabel_2edge_support``: edge-labeled
    wedge MNI support, canonical (la, e1) ≤ (lc, e2)."""
    m, k = n_classes, n_elabels
    return graph_query(
        f"""
        SELECT la, e1, lb, e2, lc, support FROM (
          SELECT (s1.src % {m})::INT AS la,
                 ((s1.src + s1.dst) % {k})::INT AS e1,
                 (s1.dst % {m})::INT AS lb,
                 ((s2.src + s2.dst) % {k})::INT AS e2,
                 (s2.dst % {m})::INT AS lc,
                 least(count(DISTINCT s1.src), count(DISTINCT s1.dst),
                       count(DISTINCT s2.dst)) AS support
          FROM sym s1 JOIN sym s2 ON s1.dst = s2.src
          WHERE s1.src <> s2.dst
            AND (s1.src % {m} < s2.dst % {m}
                 OR (s1.src % {m} = s2.dst % {m}
                     AND (s1.src + s1.dst) % {k} <= (s2.src + s2.dst) % {k}))
          GROUP BY 1, 2, 3, 4, 5
        ) WHERE support >= {minsup}
        """,
        divisor=divisor,
    )
