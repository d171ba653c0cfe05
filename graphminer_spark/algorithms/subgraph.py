"""Generic subgraph matching engine: one pattern spec drives the Spark
join plan, the DuckDB oracle SQL, and the automorphism bookkeeping.

This is the relational re-expression of three reference surfaces:

* the SgL/SC named-pattern kernels (``src/sgl/cpu_kernels/*.h``,
  dispatcher ``src/sgl/omp_base.cc:15-53``) — each kernel's nested
  bounded intersections become a chain of equi-joins over the symmetric
  edge table with symmetry-breaking ``<`` predicates;
* the Query pipeline's pattern parser + matching-order selection
  (``src/common/pattern.cc:80-116``, ``src/query/query_plan.cc`` GQL
  order) — ``parse_pattern`` reads the same 2-or-4-ints-per-line edge
  format, and ``_matching_order`` greedily picks the next pattern
  vertex with the most already-bound neighbors;
* the motif counters' induced semantics (``src/motif/cpu_kernels/
  automine_base.h``) — ``induced=True`` adds anti-joins on pattern
  non-edges.

Counting conventions
--------------------
``count_matches`` returns the number of *subgraphs* of G isomorphic to
the pattern (each unordered embedding once — the semantics of the SgL
golden tables, e.g. citeseer house = 55,359). Two interchangeable
mechanisms, cross-checked in pytest:

* ``lt`` constraints: one representative per automorphism orbit,
  exactly like the kernels' ``if (v1 >= v0) break`` bounds;
* no ``lt``: count ordered injective embeddings and divide by |Aut|
  (computed by brute-force permutation check — n ≤ 8).

Scale note: embedding enumeration is inherently output-bound (the
reference kernels walk every embedding too); the join plan's
intermediate size is bounded by the embedding count of the densest
prefix of the matching order. The 5-vertex queries therefore run on
the sparse derived graph (``tpch_edges(divisor=6)``) in the driver
gate, and the plans stay pure JVM joins (no Python in the loop).
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class PatternSpec:
    """A small query pattern: vertices 0..n-1, undirected edges,
    optional symmetry-breaking ``lt`` pairs (graph-id order), optional
    per-position vertex labels, optional induced semantics."""

    name: str
    n: int
    edges: tuple[tuple[int, int], ...]
    lt: tuple[tuple[int, int], ...] = ()
    vlabels: tuple[int | None, ...] | None = None
    induced: bool = False

    def adj(self) -> dict[int, set[int]]:
        a: dict[int, set[int]] = {i: set() for i in range(self.n)}
        for u, v in self.edges:
            a[u].add(v)
            a[v].add(u)
        return a

    def non_edges(self) -> list[tuple[int, int]]:
        a = self.adj()
        return [
            (i, j)
            for i in range(self.n)
            for j in range(i + 1, self.n)
            if j not in a[i]
        ]

    def automorphisms(self) -> int:
        """|Aut(pattern)| by brute permutation check (n ≤ 8), label-aware."""
        es = {frozenset(e) for e in self.edges}
        lab = self.vlabels or tuple(None for _ in range(self.n))
        count = 0
        for p in itertools.permutations(range(self.n)):
            if any(lab[i] != lab[p[i]] for i in range(self.n)):
                continue
            if {frozenset((p[a], p[b])) for a, b in self.edges} == es:
                count += 1
        return count

    def ne_pairs(self) -> list[tuple[int, int]]:
        """Distinctness filters still needed after edges (adjacent ⇒
        distinct) and lt constraints (ordered ⇒ distinct)."""
        covered = {frozenset(e) for e in self.edges} | {
            frozenset(c) for c in self.lt
        }
        return [p for p in self.non_edges() if frozenset(p) not in covered]


def parse_pattern(text: str, name: str = "custom") -> PatternSpec:
    """Parse the reference's query-graph edge-list format
    (``Pattern::read_adj_file``, ``src/common/pattern.cc:80-116``):
    each line ``a b`` (unlabeled) or ``a la b lb`` (labeled)."""
    edges: list[tuple[int, int]] = []
    labels: dict[int, int] = {}
    labelled = False
    for line in text.strip().splitlines():
        vs = [int(x) for x in line.split()]
        if len(vs) == 2:
            a, b = vs
        elif len(vs) == 4:
            labelled = True
            a, la, b, lb = vs
            labels[a], labels[b] = la, lb
        else:
            raise ValueError(f"bad pattern line: {line!r}")
        edges.append((a, b))
    n = max(max(e) for e in edges) + 1
    vlabels = (
        tuple(labels.get(i) for i in range(n)) if labelled else None
    )
    return PatternSpec(name=name, n=n, edges=tuple(edges), vlabels=vlabels)


def _matching_order(
    spec: PatternSpec, cand_est: list[int] | None = None
) -> list[int]:
    """Greedy GQL-style order (``src/query/query_plan.h:10-13``): start
    at the max-degree pattern vertex, then always extend with the
    unbound vertex having the most bound neighbors (max join
    selectivity), ties to higher pattern degree then lower index.

    With ``cand_est`` (estimated candidate-set size per pattern
    position, from the label histogram — the GQL candidate-cardinality
    order of ``src/query/query_plan.cc``): start at the position with
    the FEWEST candidates, and break most-bound-neighbor ties toward
    fewer candidates, so the seed edge and every extension carry the
    smallest intermediate. The plan stays deterministic for a given
    histogram; match counts are order-invariant either way.
    """
    adj = spec.adj()
    if cand_est is None:
        start = max(range(spec.n), key=lambda v: (len(adj[v]), -v))
    else:
        start = min(
            range(spec.n), key=lambda v: (cand_est[v], -len(adj[v]), v)
        )
    order = [start]
    bound = {start}
    while len(order) < spec.n:
        if cand_est is None:
            key = lambda v: (len(adj[v] & bound), len(adj[v]), -v)  # noqa: E731
        else:
            key = lambda v: (  # noqa: E731
                len(adj[v] & bound), -cand_est[v], len(adj[v]), -v
            )
        nxt = max((v for v in range(spec.n) if v not in bound), key=key)
        if not adj[nxt] & bound:
            raise ValueError(f"pattern {spec.name} is disconnected")
        order.append(nxt)
        bound.add(nxt)
    return order


def _id_col(v: int) -> str:
    return f"v{v}"


@dataclass(frozen=True)
class _Level:
    """One extension step of the shared level plan: bind ``new`` via an
    edge from ``first``, probe edges to ``rest``, then apply pairwise
    constraints against already-bound vertices."""

    new: int
    first: int
    rest: tuple[int, ...]
    lt_pairs: tuple[tuple[int, int], ...]      # (i, j): v_i < v_j
    ne_others: tuple[int, ...]                 # bound u with u != new
    induced_others: tuple[int, ...]            # bound u with no edge u-new


def _level_plan(
    spec: PatternSpec, cand_est: list[int] | None = None
) -> tuple[tuple[int, int], list[_Level]]:
    """Shared planner for the Spark join plan AND the oracle SQL: the
    seed edge pair plus one _Level per remaining matching-order vertex.
    One source of truth so constraint placement cannot diverge (the
    count is order-invariant, so a cardinality-informed Spark order and
    the static oracle order agree on results)."""
    adj = spec.adj()
    order = _matching_order(spec, cand_est)
    a, b = order[0], order[1]
    levels: list[_Level] = []
    bound = [a, b]
    for new in order[2:]:
        nbrs = sorted(adj[new] & set(bound))
        lt_pairs, ne_others, induced_others = [], [], []
        for u in bound:
            adjacent = new in adj[u]
            if (u, new) in spec.lt:
                lt_pairs.append((u, new))
            elif (new, u) in spec.lt:
                lt_pairs.append((new, u))
            elif not adjacent:
                ne_others.append(u)
            if spec.induced and not adjacent:
                induced_others.append(u)
        levels.append(
            _Level(
                new=new,
                first=nbrs[0],
                rest=tuple(nbrs[1:]),
                lt_pairs=tuple(lt_pairs),
                ne_others=tuple(ne_others),
                induced_others=tuple(induced_others),
            )
        )
        bound.append(new)
    return (a, b), levels


def build_candidates(
    sym_edges: DataFrame,
    spec: PatternSpec,
    labeled_vertices: DataFrame,
    pos: int,
    deg: DataFrame | None = None,
    nlf_df: DataFrame | None = None,
) -> DataFrame:
    """Filter-stage candidate set for one pattern position — the
    reference's filter-before-enumerate (``src/query/filter.h:10-22``,
    ``filter.cc`` NLF/GQL pruning) as composed semi-join predicates:

    * label:  vlabel(v) == pattern label (when the position is labeled)
    * degree: deg(v) ≥ pattern degree of the position
    * NLF:    for each label ℓ appearing c times among the position's
      labeled pattern neighbors, v has ≥ c neighbors with label ℓ
      (``Graph::build_nlf`` consumed per candidate, ``filter.cc``)

    Each predicate is a semi-join against a per-vertex table (degree /
    NLF rows), so the filter itself is shuffle-bounded by |V| and never
    materializes adjacency — safe at web scale.
    """
    from graphminer_spark.graph.build import degrees as _degrees
    from graphminer_spark.graph.labels import nlf as _nlf

    adj = spec.adj()
    lab = spec.vlabels or tuple(None for _ in range(spec.n))
    if deg is None:
        deg = _degrees(sym_edges)
    if lab[pos] is not None:
        c = labeled_vertices.filter(
            F.col("vlabel") == int(lab[pos])
        ).select("id")
    else:
        c = deg.select("id")
    pdeg = len(adj[pos])
    c = c.join(
        deg.filter(F.col("deg") >= pdeg).select("id"), "id", "left_semi"
    )
    req: dict[int, int] = {}
    for q in adj[pos]:
        if lab[q] is not None:
            req[int(lab[q])] = req.get(int(lab[q]), 0) + 1
    if req:
        if nlf_df is None:
            nlf_df = _nlf(sym_edges, labeled_vertices)
        for lq, cnt in sorted(req.items()):
            c = c.join(
                nlf_df.filter(
                    (F.col("vlabel") == lq) & (F.col("n") >= cnt)
                ).select("id"),
                "id",
                "left_semi",
            )
    return c


# The filter stage costs about a dozen extra semi-join shuffles; it
# pays for them only on a skewed label histogram (max/min label
# frequency at least this). On uniform labels the label filter alone
# captures the selectivity and the stage was measured as pure overhead
# (BENCH/BASELINE.md).
FILTER_MIN_SKEW = 4.0


def match_embeddings(
    sym_edges: DataFrame,
    spec: PatternSpec,
    labeled_vertices: DataFrame | None = None,
    _aux: list | None = None,
    _plan_probe: dict | None = None,
) -> DataFrame:
    """Embeddings DataFrame ``(v0 .. v{n-1})`` — one row per assignment
    satisfying edges, lt/distinctness constraints, labels, and (if
    induced) non-edges. Pure JVM join plan.

    The plan follows from the pattern and the label histogram alone.
    A labeled pattern with more than 3 vertices reads the label
    histogram (one collect, a row per label) and orders its matching
    by estimated candidate cardinality (``src/query/query_plan.cc`` GQL
    order). When the histogram is skewed (max/min frequency ≥
    ``FILTER_MIN_SKEW``) the reference's filter stage
    (``src/query/filter.h:10-22``) runs first: per-position candidates
    restricted by label AND degree AND neighborhood label frequency
    (NLF) via :func:`build_candidates`.
    A 3-vertex pattern has one extension level, so neither pays for
    itself there, and unlabeled patterns have nothing to filter on:
    both keep the static greedy order and the plain label filters.

    When the filter stage runs, the matching order uses POST-FILTER
    candidate cardinalities — each position's candidate table is built
    once, counted (one cheap job over the |V|-bounded filter tables),
    and reused for the enumeration semi-joins. This is the actual GQL
    plan (``src/query/query_plan.cc``: order by filtered candidate
    count, not raw label frequency) — degree/NLF pruning can shrink a
    frequent label's candidate set below a rare label's, flipping the
    optimal seed.
    """
    labeled = spec.vlabels is not None and any(
        l is not None for l in spec.vlabels
    )
    cand_est = None
    deg = nlf_df = None
    use_filters = False
    if labeled and spec.n > 3:
        assert labeled_vertices is not None, "labeled pattern needs vertices"
        from graphminer_spark.graph.build import degrees as _degrees
        from graphminer_spark.graph.labels import label_frequency
        from graphminer_spark.graph.labels import nlf as _nlf

        freq = {
            int(r["vlabel"]): int(r["n"])
            for r in label_frequency(labeled_vertices).collect()
        }
        nv = sum(freq.values())
        cand_est = [
            freq.get(int(l), 0) if l is not None else nv
            for l in spec.vlabels
        ]
        skew = (
            max(freq.values()) / max(1, min(freq.values())) if freq else 1.0
        )
        use_filters = skew >= FILTER_MIN_SKEW
        if use_filters:
            # materialize the per-vertex filter tables ONCE: every
            # position issues several semi-joins against them, and
            # without truncation Catalyst pushes each vlabel filter
            # below the aggregate's exchange — different exchanges, no
            # ReuseExchange, so the O(|E|) NLF build would recompute
            # per semi-join. Lifecycle: with `_aux` the caller owns
            # unpersisting (count_matches releases them the moment its
            # single-row result materializes); without it,
            # localCheckpoint blocks are reclaimed by the
            # ContextCleaner once the returned plan is dropped.
            deg = _degrees(sym_edges)
            nlf_df = _nlf(sym_edges, labeled_vertices)
            if _aux is not None:
                deg = deg.persist()
                nlf_df = nlf_df.persist()
                _aux.extend([deg, nlf_df])
            else:
                deg = deg.localCheckpoint(eager=True)
                nlf_df = nlf_df.localCheckpoint(eager=True)
    sym = sym_edges.select("src", "dst")
    cand_tables: dict[int, DataFrame] = {}
    if use_filters:
        # build every position's candidate table ONCE; its exact count
        # refines the matching-order estimate (the GQL order), and the
        # same materialized table feeds the enumeration semi-joins
        for pos in range(spec.n):
            c = build_candidates(
                sym, spec, labeled_vertices, pos, deg=deg, nlf_df=nlf_df
            )
            if _aux is not None:
                c = c.persist()
                _aux.append(c)
            else:
                c = c.localCheckpoint(eager=True)
            cand_tables[pos] = c
        # ONE action for all position counts (a union-scan of the
        # just-materialized tables), not one job per position
        from functools import reduce

        tagged = reduce(
            lambda a, b: a.unionByName(b),
            [
                cand_tables[p].select(F.lit(p).alias("_p"))
                for p in range(spec.n)
            ],
        )
        got = {
            r["_p"]: r["n"]
            for r in tagged.groupBy("_p").agg(F.count("*").alias("n")).collect()
        }
        cand_est = [int(got.get(p, 0)) for p in range(spec.n)]
    (a, b), levels = _level_plan(spec, cand_est)
    if _plan_probe is not None:
        _plan_probe["cand_est"] = cand_est
        _plan_probe["seed"] = (a, b)

    def cand_ids(pos: int) -> DataFrame | None:
        if use_filters:
            return cand_tables[pos]
        if spec.vlabels is None or spec.vlabels[pos] is None:
            return None
        assert labeled_vertices is not None, "labeled pattern needs vertices"
        return labeled_vertices.filter(
            F.col("vlabel") == int(spec.vlabels[pos])
        ).select("id")

    # seed from an edge: order[1] is adjacent to order[0] by construction
    emb = sym.select(F.col("src").alias(_id_col(a)), F.col("dst").alias(_id_col(b)))
    for pos in (a, b):
        c = cand_ids(pos)
        if c is not None:
            emb = emb.join(
                c.withColumnRenamed("id", _id_col(pos)), _id_col(pos), "left_semi"
            )
    for i, j in spec.lt:  # seed pair is always adjacent
        if {i, j} == {a, b}:
            emb = emb.filter(F.col(_id_col(i)) < F.col(_id_col(j)))

    seen_probe = False
    for lv in levels:
        # wedge-close: a level with exactly ONE probe closes a cycle
        # through the new vertex. Extend-then-probe materializes the
        # Σ_emb deg(first) pre-probe stream and shuffles it again for
        # the probe join; joining a two-edge wedge (first → new → rest)
        # on BOTH anchors goes straight to the closed rows. The wedge
        # stream is Σ deg² rows, so it pays only when the embedding
        # side is big relative to it — the pure-cycle case, where the
        # prefix is an unconstrained path. Gates (each measured in one
        # session, best-of-3 at sf0.1):
        #  * no candidate filters (filtered embs are already small);
        #  * first probe of the plan (an earlier probe means a
        #    selective close has pruned emb — house: 4.35 s old path
        #    vs 6.77 s forced wedge);
        #  * chordless ≥4-cycle close (triangle close: the pre-probe
        #    stream IS the wedge stream, rewrite just re-keys it).
        # Pentagon (5-cycle): 24.15 s → 4.33 s. lt filters on
        # (first, new) / (rest, new) and the new position's candidate
        # semi-join push below the join into the wedge scan (same
        # PushDownLeftSemiAntiJoin behavior the CECI test asserts).
        if (
            len(lv.rest) == 1
            and not seen_probe
            and not use_filters
            and lv.rest[0] not in spec.adj()[lv.first]
        ):
            u = lv.rest[0]
            wedge = sym.select(
                F.col("src").alias(_id_col(lv.first)),
                F.col("dst").alias(_id_col(lv.new)),
            ).join(
                sym.select(
                    F.col("src").alias(_id_col(lv.new)),
                    F.col("dst").alias(_id_col(u)),
                ),
                _id_col(lv.new),
            )
            c = cand_ids(lv.new)
            if c is not None:
                wedge = wedge.join(
                    c.withColumnRenamed("id", _id_col(lv.new)),
                    _id_col(lv.new),
                    "left_semi",
                )
            emb = emb.join(wedge, [_id_col(lv.first), _id_col(u)])
        else:
            ext = sym.select(
                F.col("src").alias(_id_col(lv.first)),
                F.col("dst").alias(_id_col(lv.new)),
            )
            emb = emb.join(ext, _id_col(lv.first))
            c = cand_ids(lv.new)
            if c is not None:
                emb = emb.join(
                    c.withColumnRenamed("id", _id_col(lv.new)),
                    _id_col(lv.new),
                    "left_semi",
                )
            for u in lv.rest:  # edge-existence probes: unique (src,dst) rows
                probe = sym.select(
                    F.col("src").alias(_id_col(u)), F.col("dst").alias(_id_col(lv.new))
                )
                emb = emb.join(probe, [_id_col(u), _id_col(lv.new)])
        if lv.rest:
            seen_probe = True
        for i, j in lv.lt_pairs:
            emb = emb.filter(F.col(_id_col(i)) < F.col(_id_col(j)))
        for u in lv.ne_others:
            emb = emb.filter(F.col(_id_col(u)) != F.col(_id_col(lv.new)))
        for u in lv.induced_others:
            ne = sym.select(
                F.col("src").alias(_id_col(u)), F.col("dst").alias(_id_col(lv.new))
            )
            emb = emb.join(ne, [_id_col(u), _id_col(lv.new)], "left_anti")
    return emb.select(*[_id_col(i) for i in range(spec.n)])


def count_matches(
    sym_edges: DataFrame,
    spec: PatternSpec,
    labeled_vertices: DataFrame | None = None,
    alias: str | None = None,
) -> DataFrame:
    """Subgraph count (each unordered embedding once) → single row.

    With ``lt`` constraints the join output is already canonical; for
    an unlabeled/unsorted spec the ordered count divides by |Aut|.
    """
    alias = alias or f"n_{spec.name}"
    aux: list = []
    emb = match_embeddings(sym_edges, spec, labeled_vertices, _aux=aux)
    cnt = emb.agg(F.count("*").alias("_o"))
    if spec.lt:
        out = cnt.select(F.col("_o").alias(alias))
    else:
        aut = spec.automorphisms()
        # exact integral division (ordered count is a multiple of |Aut|)
        out = cnt.select(F.expr(f"_o div {aut}").alias(alias))
    if aux:
        # single-row result: materialize eagerly so the filter-stage
        # tables release NOW (no persisted-RDD accumulation across a
        # long all-queries session)
        out = out.localCheckpoint(eager=True)
        for t in aux:
            t.unpersist()
    return out


# --------------------------------------------------------- SQL generation


def pattern_level_ctes(
    spec: PatternSpec,
    prefix: str = "m",
    alias: str | None = None,
    n_classes: int = 7,
) -> tuple[list[str], str]:
    """DuckDB CTE chain mirroring ``count_matches``: one MATERIALIZED
    CTE per matching-order level, plus the final count expression.

    Materialization pins the evaluation order to the same greedy plan
    the Spark side executes — DuckDB's own reordering of the flat
    n-way self-join was observed to pick catastrophic orders for
    triangle-pair patterns (dumbbell: minutes vs seconds). Labels are
    synthetic ``id % n_classes`` (``graph.labels.with_synthetic_labels``).

    Returns ``(ctes, count_select)`` where ``count_select`` is a scalar
    ``SELECT`` over the last level — composable into multi-pattern
    statements (``motif5``) under distinct prefixes.
    """
    alias = alias or f"n_{spec.name}"
    (a, b), levels = _level_plan(spec)
    lab = spec.vlabels or tuple(None for _ in range(spec.n))

    def v(pos: int) -> str:
        return _id_col(pos)

    seed_conds = []
    for pos in (a, b):
        if lab[pos] is not None:
            seed_conds.append(f"{v(pos)} % {n_classes} = {lab[pos]}")
    for i, j in spec.lt:
        if {i, j} == {a, b}:
            seed_conds.append(f"{v(i)} < {v(j)}")
    where = f" WHERE {' AND '.join(seed_conds)}" if seed_conds else ""
    ctes = [
        f"{prefix}0 AS MATERIALIZED "
        f"(SELECT src AS {v(a)}, dst AS {v(b)} FROM sym{where})"
    ]
    cols = [v(a), v(b)]
    for k, lv in enumerate(levels, start=1):
        joins = [f"JOIN sym s ON s.src = p.{v(lv.first)}"]
        for t, u in enumerate(lv.rest):
            joins.append(
                f"JOIN sym s{t} ON s{t}.src = p.{v(u)} AND s{t}.dst = s.dst"
            )
        conds = []
        if lab[lv.new] is not None:
            conds.append(f"s.dst % {n_classes} = {lab[lv.new]}")
        for i, j in lv.lt_pairs:
            ei = "s.dst" if i == lv.new else f"p.{v(i)}"
            ej = "s.dst" if j == lv.new else f"p.{v(j)}"
            conds.append(f"{ei} < {ej}")
        for u in lv.ne_others:
            conds.append(f"p.{v(u)} <> s.dst")
        for u in lv.induced_others:
            conds.append(
                f"NOT EXISTS (SELECT 1 FROM sym ne WHERE "
                f"ne.src = p.{v(u)} AND ne.dst = s.dst)"
            )
        where = f" WHERE {' AND '.join(conds)}" if conds else ""
        sel = ", ".join(f"p.{c}" for c in cols) + f", s.dst AS {v(lv.new)}"
        ctes.append(
            f"{prefix}{k} AS MATERIALIZED (SELECT {sel} FROM {prefix}{k - 1} p "
            f"{' '.join(joins)}{where})"
        )
        cols.append(v(lv.new))
    divide = "" if spec.lt else f" // {spec.automorphisms()}"
    count_select = (
        f"SELECT (count(*){divide})::BIGINT AS {alias} "
        f"FROM {prefix}{len(levels)}"
    )
    return ctes, count_select


def pattern_count_sql_body(
    spec: PatternSpec, alias: str | None = None, n_classes: int = 7
) -> str:
    """Single-pattern count body: rides inside ``graph_query``'s
    ``WITH <ctes> <body>`` — a leading comma legally continues the
    WITH list with the level CTEs."""
    ctes, count_select = pattern_level_ctes(spec, alias=alias, n_classes=n_classes)
    return ", " + ", ".join(ctes) + " " + count_select


# --------------------------------------------------- k-motif graph atlas


def canonical_edge_form(
    edges: tuple[tuple[int, int], ...], k: int
) -> tuple:
    """Canonical representative of an edge set over vertices 0..k-1:
    min over all vertex permutations of the sorted pair tuple."""
    return min(
        tuple(sorted(tuple(sorted((p[u], p[v]))) for u, v in edges))
        for p in itertools.permutations(range(k))
    )


def edgeset_connected(edges: tuple[tuple[int, int], ...], k: int) -> bool:
    """True iff the edge set connects all of 0..k-1."""
    adj: dict[int, set[int]] = {i: set() for i in range(k)}
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    comp, todo = {0}, [0]
    while todo:
        x = todo.pop()
        for y in adj[x]:
            if y not in comp:
                comp.add(y)
                todo.append(y)
    return len(comp) == k


def connected_graphs(k: int) -> list[PatternSpec]:
    """All non-isomorphic connected graphs on k vertices (2 for k=3,
    6 for k=4, 21 for k=5 — ``include/pattern.hh:4-15``), generated by
    brute canonicalization over edge subsets, as induced PatternSpecs.

    Deterministic naming ``g{k}_{idx:02d}`` ordered by (edge count,
    canonical edge tuple) so query columns are stable across runs.
    """
    all_pairs = list(itertools.combinations(range(k), 2))
    seen: dict[tuple, tuple[tuple[int, int], ...]] = {}
    for bits in range(1 << len(all_pairs)):
        edges = tuple(
            p for i, p in enumerate(all_pairs) if bits & (1 << i)
        )
        if not edgeset_connected(edges, k):
            continue
        canon = canonical_edge_form(edges, k)
        if canon not in seen:
            seen[canon] = edges
    ordered = sorted(seen, key=lambda c: (len(c), c))
    return [
        PatternSpec(f"g{k}_{i:02d}", k, seen[c], induced=True)
        for i, c in enumerate(ordered)
    ]


def motif_counts_induced(
    sym_edges: DataFrame, k: int
) -> DataFrame:
    """Vertex-induced k-motif counts, one row with one column per
    connected k-vertex pattern (``n_g{k}_{idx}``) — the AutoMine
    surface (``src/motif/cpu_kernels/automine_base.h``) via the generic
    induced matcher.

    The edge table is persisted across the per-pattern enumerations
    (they all scan it; one materialization instead of 21). A
    Pangolin-style shared-growth census (sorted ``array<long>`` vertex
    sets grown one vertex per level, classified by an induced-adjacency
    bitmask) was benchmarked head-to-head as the alternative and LOST
    on the path-dominated census graphs (174.8 s vs 160.2 s at the k=5
    gate scale): the symmetry-broken per-pattern joins are output-optimal,
    so their summed cost ≈ the total set count the shared growth also
    pays — plus the shared path's per-level array dedup shuffles.
    Recorded in BENCH/BASELINE.md.
    """
    sym = sym_edges.persist()
    out = None
    for spec in connected_graphs(k):
        c = count_matches(sym, spec)
        out = c if out is None else out.crossJoin(c)
    out = out.localCheckpoint(eager=True)
    sym.unpersist()
    return out


def motif_counts_sql_body(k: int) -> str:
    """Composable DuckDB body for ``motif_counts_induced`` — per-pattern
    level CTEs under distinct prefixes, final single-row SELECT."""
    specs = connected_graphs(k)
    ctes: list[str] = []
    finals: list[str] = []
    for i, spec in enumerate(specs):
        c, sel = pattern_level_ctes(spec, prefix=f"p{i}_")
        ctes.extend(c)
        finals.append(f"c{i} AS ({sel})")
    names = ", ".join(f"n_{s.name}" for s in specs)
    tables = ", ".join(f"c{i}" for i in range(len(specs)))
    return (
        ", "
        + ", ".join(ctes + finals)
        + f" SELECT {names} FROM {tables}"
    )


# ------------------------------------------------- named SgL/SC patterns
#
# Vertex numbering and lt constraints re-derive each kernel's
# symmetry-breaking bounds (one representative per Aut orbit); the
# pytest suite cross-checks every spec against (a) the ordered/|Aut|
# mechanism and (b) a literal python transcription of the kernel loops,
# plus the published citeseer goldens where they exist
# (src/sgl/README.md:51-63, src/count/README.md:39-51).

SGL_PATTERNS: dict[str, PatternSpec] = {
    # rectangle.h — 4-cycle 0-1-2-3-0; aut 8
    "rectangle": PatternSpec(
        "rectangle", 4, ((0, 1), (1, 2), (2, 3), (0, 3)),
        lt=((0, 1), (0, 2), (0, 3), (1, 3)),
    ),
    # diamond.h — hubs 0,1; wings 2,3; aut 4
    "diamond": PatternSpec(
        "diamond", 4, ((0, 1), (0, 2), (0, 3), (1, 2), (1, 3)),
        lt=((0, 1), (2, 3)),
    ),
    # tailedtriangle.h — triangle 0,1,2; tail 3 on 0; aut 2
    "tailed_triangle": PatternSpec(
        "tailed_triangle", 4, ((0, 1), (0, 2), (1, 2), (0, 3)), lt=((1, 2),)
    ),
    # 4path.h — path 0-1-2-3; aut 2
    "4path": PatternSpec("4path", 4, ((0, 1), (1, 2), (2, 3)), lt=((0, 3),)),
    # 3star.h — center 0; aut 6
    "3star": PatternSpec(
        "3star", 4, ((0, 1), (0, 2), (0, 3)), lt=((1, 2), (2, 3))
    ),
    # house.h — triangle (0,1,2) on wall edge (0,1); square 0-1-3-4;
    # mirror (0↔1, 3↔4); aut 2; citeseer golden 55,359
    "house": PatternSpec(
        "house", 5, ((0, 1), (0, 2), (1, 2), (1, 3), (3, 4), (0, 4)),
        lt=((0, 1),),
    ),
    # pentagon.h — 5-cycle; aut 10; citeseer golden 28,394
    "pentagon": PatternSpec(
        "pentagon", 5, ((0, 1), (1, 2), (2, 3), (3, 4), (0, 4)),
        lt=((0, 1), (0, 2), (0, 3), (0, 4), (1, 4)),
    ),
    # hourglass.h — triangles (0,1,2) and (0,3,4) sharing center 0;
    # aut 8; citeseer golden 16,034 (src/count/README.md:44)
    "hourglass": PatternSpec(
        "hourglass", 5, ((0, 1), (0, 2), (1, 2), (0, 3), (0, 4), (3, 4)),
        lt=((1, 2), (3, 4), (1, 3)),
    ),
    # semihouse.h — central triangle (0,1,2); 3 adj {0,2}; 4 adj {1,2};
    # mirror (0↔1, 3↔4); aut 2
    "semihouse": PatternSpec(
        "semihouse", 5,
        ((0, 1), (0, 2), (1, 2), (0, 3), (2, 3), (1, 4), (2, 4)),
        lt=((0, 1),),
    ),
    # closedhouse.h — edge (0,1); 2,3,4 common neighbors; edge (3,4);
    # aut 4. NOTE: the reference kernel iterates the {3,4} pair in both
    # orders (no bound on v4 vs v3), so it reports 2x this canonical
    # subgraph count — pinned by the literal-kernel test.
    "closedhouse": PatternSpec(
        "closedhouse", 5,
        ((0, 1), (0, 2), (1, 2), (0, 3), (1, 3), (0, 4), (1, 4), (3, 4)),
        lt=((0, 1), (3, 4)),
    ),
    # taileddiamond.h — diamond hubs (0,1), wings 2,3; tail 4 on wing 2;
    # aut 2
    "taileddiamond": PatternSpec(
        "taileddiamond", 5,
        ((0, 1), (0, 2), (1, 2), (0, 3), (1, 3), (2, 4)),
        lt=((0, 1),),
    ),
    # taileddiamond2.h — tail 4 on hub 0 instead; aut 2 (wing swap)
    "taileddiamond2": PatternSpec(
        "taileddiamond2", 5,
        ((0, 1), (0, 2), (1, 2), (0, 3), (1, 3), (0, 4)),
        lt=((2, 3),),
    ),
    # dumbbell.h — triangles (0,1,2) and (3,4,5) bridged by (0,3); aut 8
    "dumbbell": PatternSpec(
        "dumbbell", 6,
        ((0, 1), (0, 2), (1, 2), (3, 4), (3, 5), (4, 5), (0, 3)),
        lt=((1, 2), (4, 5), (0, 3)),
    ),
    # 5path.h — path 0-1-2-3-4; aut 2
    "5path": PatternSpec(
        "5path", 5, ((0, 1), (1, 2), (2, 3), (3, 4)), lt=((0, 4),)
    ),
    # 6path.h — path 0-1-2-3-4-5; aut 2
    "6path": PatternSpec(
        "6path", 6, ((0, 1), (1, 2), (2, 3), (3, 4), (4, 5)), lt=((0, 5),)
    ),
}


# ------------------------------------------------------------------- GKS


def gks_count(
    sym_edges: DataFrame,
    labeled_vertices: DataFrame,
    keywords: tuple[int, int, int],
) -> DataFrame:
    """Graph keyword search (``src/keyword/gks.h:8-22``,
    ``omp_base.cc:27-77``): count connected 3-vertex subgraphs carrying
    exactly one vertex of each (distinct) keyword label.

    A connected 3-set is a wedge or a triangle; counting wedge vertex
    sets once per center and subtracting the triangle over-count (a
    triangle contains 3 wedges) gives sets = Σ_centers W_c − 2·T.
    The DuckDB oracle instead dedups sorted triples directly — an
    independent formulation.
    """
    la, lb, lc = keywords
    assert len({la, lb, lc}) == 3, "keywords must be distinct labels"
    total = None
    for center, (e1, e2) in (
        (la, (lb, lc)),
        (lb, (la, lc)),
        (lc, (la, lb)),
    ):
        spec = PatternSpec(
            "gks_wedge", 3, ((0, 1), (1, 2)), vlabels=(e1, center, e2)
        )
        w = count_matches(sym_edges, spec, labeled_vertices, alias="w")
        total = w if total is None else total.crossJoin(
            w.withColumnRenamed("w", f"w{center}")
        )
    tri = count_matches(
        sym_edges,
        PatternSpec("gks_tri", 3, ((0, 1), (1, 2), (0, 2)), vlabels=keywords),
        labeled_vertices,
        alias="t",
    )
    cols = [c for c in total.columns]
    return (
        total.crossJoin(tri)
        .select(
            (sum(F.col(c) for c in cols) - 2 * F.col("t")).alias("n_gks")
        )
    )


def gks_sql(keywords: tuple[int, int, int], n_classes: int = 7) -> str:
    """Independent GKS oracle: distinct sorted label-constrained
    connected triples (every connected 3-set contains ≥1 wedge; DISTINCT
    collapses a triangle's 3 wedges)."""
    la, lb, lc = keywords
    body = f"""
    SELECT count(*) AS n_gks FROM (
      SELECT DISTINCT least(a.src, a.dst, b.dst) AS x,
             a.src + a.dst + b.dst
               - least(a.src, a.dst, b.dst)
               - greatest(a.src, a.dst, b.dst) AS y,
             greatest(a.src, a.dst, b.dst) AS z
      FROM sym a JOIN sym b ON a.dst = b.src AND a.src <> b.dst
      WHERE list_sort([a.src % {n_classes}, a.dst % {n_classes}, b.dst % {n_classes}])
            = list_sort([{la}, {lb}, {lc}])
    )
    """
    return body
