"""General-k FSM: the gSpan frontier loop over an embeddings-per-level
DataFrame of fixed-width scalar columns.

The reference mines patterns to arbitrary edge count k with
rightmost-path extension and is_min canonical dedup
(``src/fsm/omp_base.cc:150-239`` ``dfs_extend``, ``src/fsm/dfscode.h``,
``src/fsm/canonical.h``). This module is the Spark-first
re-expression — instead of DFS codes on a recursion stack, the frontier
is a DataFrame of *edge-set embeddings*, one connected k-edge subgraph
occurrence per row, and every per-row step is a scalar expression or a
join against a small driver-built table:

* a level-L row is ``v0..vL`` (its vertex ids, sorted, null past its
  vertex count), ``lp`` (their labels, aligned with the slots: slot i's
  label in bit field i, as a dense rank of the distinct labels, so the
  packing below is order-preserving for any label values) and ``q``,
  the index-space STRUCTURE: a bitmask over index pairs ``(a, b)``,
  ``a < b``. The edges are ``(v_a, v_b)`` for each set bit, so no edge
  list is carried;
* extension (level > 1) = the anchor slots, ``stack``-ed out of the row,
  joined to the labeled symmetric edge table (pre-pruned after level 1
  to edges whose label pair is frequent — gSpan's anti-monotone 1-edge
  fact), then a broadcast join with the driver's TRANSITION table keyed
  by ``(q, anchor slot, t)``: ``t`` is the partner slot of a backward
  edge (both endpoints already in the row) or ``-1 - p`` for a forward
  edge whose new vertex sorts into slot ``p``. The table holds only the
  transitions whose added edge is the lexicographically MAXIMUM edge of
  the new structure whose removal keeps it connected, and backward
  pairs absent from ``q`` taken from the smaller slot: the
  CANONICAL-PARENT rule, the Spark analogue of the reference's is_min
  rejection (``src/fsm/omp_base.cc:150-239``). Every connected
  (k+1)-edge subgraph S has a removable edge and its parent S − e* is a
  connected k-edge subgraph whose pattern is a subpattern of S's (MNI
  is anti-monotone, Bringmann & Nijssen), so the frontier stays
  complete for frequent patterns while each S is generated EXACTLY
  ONCE. Because the vertex slots are sorted, concrete-edge order equals
  index-pair order and removability is a property of ``q`` alone;
* pattern identity = two-phase canonicalization (the quick-pattern →
  canonical-pattern aggregation of ``miner.h``): the driver
  canonicalizes only the few distinct structures (min over n!
  encodings, n = k+1 — the is_min check, memoized); the transition
  table carries each new structure's id and one min-achieving slot
  order, and the row's canonical label tuple is the ``least`` over the
  canonical structure's automorphisms of its packed label ranks — with
  the labels sorted within each class of interchangeable (twin)
  positions, one automorphism per coset of the twin permutations is
  enough. A pattern is the structure id ``sid`` plus that tuple packed
  into one long ``code``;
* MNI support (``src/fsm/domain_support.h``): each row joins the
  min-achieving assignments of its structure, keeps those whose labels
  equal its canonical tuple and emits ``(sid, code, position, vertex)``;
  distinct counts per position union the domains of symmetric
  positions with no orbit bookkeeping. Only the frequent codes reach
  the driver, which renders them back to ``structure|[labels]``;
* anti-monotone pruning between levels: embeddings of infrequent
  patterns leave the frontier (gSpan's support prune).

Each level is one checkpointed pass (extension + code), one grouped
collect (the structures it realized, for the next transition table,
and its row count) and one support aggregate; the superseded level is
freed as soon as its successor is materialized; a level with no
frequent pattern ends the mine. ``q`` has 55 pair bits, so k ≤ 10;
larger k raises ``ValueError``, as does a label alphabet too large for
one long to hold the k+1 packed ranks. The driver-built
tables are local relations of non-null columns, which keeps the
generated code of the level-4 pass under the JVM's 8000-byte limit for
compiling a method (a larger one runs interpreted). At k ≥ 5 the code
pass outgrows it; still, a k = 5 mine of ``bench.py``'s sf0.01 scramble
graph (1.49M level-5 rows, minsup 20) takes 26 s warm on 4 CPUs.

Scale note: unlike the fixed-shape kernels in ``patterns.py`` (whose
MNI domains commute into NLF counts — hub-safe), the general-k loop is
embedding-bound by nature: level cost = O(#occurrences), the same
asymptotics as the reference's DFS enumeration. Use it for depth
(k ≥ 4); the closed-form kernels remain the scale path for k ≤ 3.
"""

from __future__ import annotations

from functools import lru_cache
from itertools import permutations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_K = 10


# ------------------------------------------------- driver-side structure


def _bit(a: int, b: int) -> int:
    """Bit of the index pair ``(a, b)``, ``a < b``, in a structure mask."""
    return 1 << (b * (b - 1) // 2 + a)


def _edges(q: int) -> tuple:
    """The sorted index-pair edges of structure mask ``q``."""
    return tuple(
        sorted(
            (a, b)
            for b in range(1, MAX_K + 1)
            for a in range(b)
            if q & _bit(a, b)
        )
    )


def _n_vertices(qedges: tuple) -> int:
    return max(b for _, b in qedges) + 1


@lru_cache(maxsize=None)
def _structure_canon(qedges: tuple, n: int):
    """Unlabeled canonicalization of an index-space edge set, memoized —
    the quick-code space is huge (every vertex-id ordering of every
    occurrence) but collapses onto ≤ a few hundred distinct STRUCTURES,
    so the O(n!) search runs once per structure. Returns
    ``(canon_edges, min_assigns)``: the canonical edge set and every
    assignment (pos → quick index) achieving it — min-achieving
    assignments differ exactly by Aut(canonical structure)."""
    best = None
    mins: list[tuple] = []
    for assign in permutations(range(n)):  # assign[pos] = quick index
        pos_of = [0] * n
        for p, q in enumerate(assign):
            pos_of[q] = p
        edges_p = tuple(
            sorted(tuple(sorted((pos_of[a], pos_of[b]))) for a, b in qedges)
        )
        if best is None or edges_p < best:
            best, mins = edges_p, [assign]
        elif edges_p == best:
            mins.append(assign)
    return best, tuple(mins)


@lru_cache(maxsize=None)
def _label_orders(cedges: tuple, n: int) -> tuple:
    """``(twins, reps)`` of the canonical structure, which together give
    the least label tuple over its automorphisms without trying them all.
    ``twins`` are its classes of ≥ 2 interchangeable positions (same
    neighbours apart from each other); every permutation inside a class
    is an automorphism, so once the labels are sorted within each class
    only one automorphism per coset of those permutations matters:
    ``reps`` holds the one that keeps each class's order."""
    adj = [set() for _ in range(n)]
    for a, b in cedges:
        adj[a].add(b)
        adj[b].add(a)
    twins, seen = [], set()
    for p in range(n):
        if p not in seen:
            cls = [p] + [
                x for x in range(p + 1, n)
                if x not in seen and adj[p] - {x} == adj[x] - {p}
            ]
            seen.update(cls)
            if len(cls) > 1:
                twins.append(tuple(cls))
    es = set(cedges)
    reps = set()
    for s in permutations(range(n)):
        if all(tuple(sorted((s[a], s[b]))) in es for a, b in cedges):
            rep = list(s)
            for cls in twins:
                for p, x in zip(cls, sorted(s[p] for p in cls)):
                    rep[p] = x
            reps.add(tuple(rep))
    return tuple(twins), tuple(sorted(reps))


@lru_cache(maxsize=None)
def _max_removable(qedges: tuple, n: int):
    """Max index-space edge of the structure whose removal keeps the
    remaining edges connected (over their own endpoint set) — the
    canonical-parent edge. There is one for every k ≥ 2 (any spanning-tree
    leaf edge is removable). Because embeddings carry their vertex slots
    sorted, the max removable CONCRETE edge of every occurrence of this
    structure sits at exactly these index positions."""
    best = None
    for e in qedges:
        rest = [x for x in qedges if x != e]
        if not rest:
            continue
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        verts = set()
        for a, b in rest:
            verts.add(a)
            verts.add(b)
            ra, rb = find(a), find(b)
            parent[ra] = rb
        if len({find(v) for v in verts}) == 1 and (best is None or e > best):
            best = e
    return best


def _transitions(parents, level: int) -> list[tuple]:
    """``(q, s, t, nq, ins)`` for every way a level-(level-1) structure
    ``q`` grows by one edge at anchor slot ``s`` into a structure ``nq``
    whose canonical parent it is. ``t`` is the backward partner slot
    (``s < t``, pair absent from ``q``) or ``-1 - p`` for a forward edge
    whose new vertex takes sorted slot ``p``; ``ins`` is that ``p``, and
    ``level + 1`` (past every slot) for a backward edge."""
    rows = []
    for q in parents:
        es = _edges(q)
        n = _n_vertices(es)
        for s in range(n):
            for j in range(s + 1, n):
                if not q & _bit(s, j):
                    nq = q | _bit(s, j)
                    if _max_removable(_edges(nq), n) == (s, j):
                        rows.append((q, s, j, nq, level + 1))
            for p in range(n + 1):
                def sh(i):
                    return i + (i >= p)

                e = tuple(sorted((sh(s), p)))
                nes = tuple(sorted([(sh(a), sh(b)) for a, b in es] + [e]))
                if _max_removable(nes, n + 1) == e:
                    nq = sum(_bit(a, b) for a, b in nes)
                    rows.append((q, s, -1 - p, nq, p))
    return rows


def _structures(qs, level: int):
    """Canonical facts of one level's structures → ``(sids, canon, assigns)``:
    ``sids`` maps each canonical edge set to its structure id, ``canon``
    maps ``q`` to ``(sid, a*)`` with ``a*`` one min-achieving slot order
    (padded with 0 to ``level + 1`` positions), and ``assigns`` holds
    ``(q, g0..g_level)`` for every min-achieving assignment ``g``
    (padded with ``level + 1``, a slot past every vertex)."""
    sids: dict[tuple, int] = {}
    canon: dict[int, tuple] = {}
    assigns = []
    width = level + 1
    for q in sorted(qs):
        es = _edges(q)
        n = _n_vertices(es)
        cedges, mins = _structure_canon(es, n)
        sid = sids.setdefault(cedges, len(sids))
        canon[q] = (sid, mins[0] + (0,) * (width - n))
        assigns += [(q, *g, *(width,) * (width - n)) for g in mins]
    return sids, canon, assigns


def _decode_4edge(canon_edges, canon_labels):
    """Canonical 4-edge pattern → ``(shape, q1..q5)`` semantic key (the
    named-shape layout the oracle SQL reproduces; q5 = -1 for 4-vertex
    shapes). Shapes: path5 / star4 / chair / cycle4 / paw. The labels may
    be any non-negative values that order like them, such as ranks."""
    n = len(canon_labels)
    adj = {i: set() for i in range(n)}
    for a, b in canon_edges:
        adj[a].add(b)
        adj[b].add(a)
    deg = {i: len(adj[i]) for i in range(n)}
    degs = sorted(deg.values())
    lab = canon_labels
    if n == 5 and degs == [1, 1, 1, 1, 4]:
        center = next(i for i in range(n) if deg[i] == 4)
        leaves = sorted(lab[i] for i in range(n) if i != center)
        return ("star4", lab[center], *leaves)
    if n == 5 and degs == [1, 1, 1, 2, 3]:
        c = next(i for i in range(n) if deg[i] == 3)
        x = next(i for i in adj[c] if deg[i] == 2)
        y = next(i for i in adj[x] if i != c)
        l1, l2 = sorted(lab[i] for i in adj[c] if deg[i] == 1)
        return ("chair", lab[y], lab[x], lab[c], l1, l2)
    if n == 5:  # path5: degrees [1, 1, 2, 2, 2]
        end = next(i for i in range(n) if deg[i] == 1)
        order = [end]
        while len(order) < n:
            order.append(next(j for j in adj[order[-1]] if j not in order))
        t = tuple(lab[i] for i in order)
        return ("path5", *min(t, t[::-1]))
    if degs == [2, 2, 2, 2]:  # cycle4
        order = [0]
        while len(order) < 4:
            order.append(next(j for j in adj[order[-1]] if j not in order))
        t = tuple(lab[i] for i in order)
        variants = []
        for d in (t, t[::-1]):
            for r in range(4):
                variants.append(d[r:] + d[:r])
        return ("cycle4", *min(variants), -1)
    # paw: triangle (t1, t2, u) + pendant p on u
    u = next(i for i in range(n) if deg[i] == 3)
    p = next(i for i in range(n) if deg[i] == 1)
    t1, t2 = sorted(lab[i] for i in range(n) if deg[i] == 2)
    return ("paw", lab[p], lab[u], t1, t2, -1)


# ------------------------------------------------------- frontier loop


def _table(spark, rows, schema: str, nullable: bool = False) -> DataFrame:
    """A driver-built table as a local relation (broadcasting it runs no
    job), by default of non-null columns (the generated code carries no
    null checks for them)."""
    cols = [c.split() for c in schema.split(",")]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=[name for name, _ in cols]),
        ", ".join(
            f"{name} {kind}{'' if nullable else ' NOT NULL'}" for name, kind in cols
        ),
    )


def _cols(prefix: str, n: int) -> list[str]:
    return [f"{prefix}{i}" for i in range(n)]


def _slot(names: list[str], idx: str) -> str:
    """SQL: the column among ``names`` that ``idx`` indexes (null when it
    names none of them)."""
    return f"CASE {idx} " + " ".join(
        f"WHEN {i} THEN {c}" for i, c in enumerate(names)
    ) + " END"


def _pack(ranks: list[str], bits: int, level: int) -> str:
    """SQL: the label ranks ``ranks`` at canonical positions 0, 1, ...
    packed into one long of ``level + 1`` fields, the first position
    most significant, absent positions 0 — so within one structure,
    code order is label-tuple order."""
    return " | ".join(
        f"shiftleft(CAST({r} AS BIGINT), {bits * (level - p)})"
        for p, r in enumerate(ranks)
    )


def _in(expr: str, values) -> str:
    """SQL: ``expr`` is one of ``values``."""
    return f"{expr} IN ({', '.join(map(str, values))})"


def _with_code(rows: DataFrame, level: int, sids: dict, bits: int):
    """Adds ``code`` to rows carrying ``sid`` and a min-achieving slot
    order ``a0..a_level``: the label ranks are read in that order
    (``c*``), sorted within each twin class (``s*``), and ``code`` is the
    least of their packings over the structure's class-order-keeping
    automorphisms — the least over all of its automorphisms."""
    width = level + 1
    sort: dict[int, list[str]] = {p: [] for p in range(width)}
    branches = []
    for cedges, sid in sids.items():
        n = _n_vertices(cedges)
        twins, reps = _label_orders(cedges, n)
        for cls in twins:
            # the i-th smallest of the class: the member with i members
            # before it (ties broken by position)
            before = {
                j: " + ".join(
                    f"CAST(c{x} {'<=' if x < j else '<'} c{j} AS INT)"
                    for x in cls if x != j
                )
                for j in cls
            }
            for i, p in enumerate(cls):
                pick = " ".join(
                    f"WHEN {before[j]} = {i} THEN c{j}" for j in cls[:-1]
                )
                sort[p].append(f"WHEN {sid} THEN CASE {pick} ELSE c{cls[-1]} END")
        packs = [
            _pack([f"s{r[p]}" for p in range(n)], bits, level) for r in reps
        ]
        best = packs[0] if len(packs) == 1 else f"least({', '.join(packs)})"
        branches.append(f"WHEN {sid} THEN {best}")
    mask = (1 << bits) - 1
    return (
        rows.selectExpr(
            "*",
            *[f"shiftright(lp, {bits} * a{p}) & {mask} AS c{p}" for p in range(width)],
        )
        .selectExpr(
            "*",
            *[
                f"CASE sid {' '.join(w)} ELSE c{p} END AS s{p}" if w else f"c{p} AS s{p}"
                for p, w in sort.items()
            ],
        )
        .selectExpr("*", f"CASE sid {' '.join(branches)} ELSE 0L END AS code")
    )


def _extend(frontier: DataFrame, lab_sym: DataFrame, trans: DataFrame,
            level: int, bits: int) -> DataFrame:
    """One frontier level: every level-(level-1) row grows by one edge at
    each anchor slot, and the transition table keeps the growths whose
    added edge is the new structure's canonical-parent edge. The labeled
    edge table carries the new endpoint's label, so ``lp`` grows without
    a label join. Output: the new slots, ``lp``, ``q``, and the new
    structure's ``sid`` and ``a0..a_level`` from the table."""
    pv = _cols("v", level)
    slots = ", ".join(f"{i}, {v}" for i, v in enumerate(pv))
    below = " + ".join(f"CASE WHEN {v} < w THEN 1 ELSE 0 END" for v in pv)
    partner = " ".join(f"WHEN {v} = w THEN {i}" for i, v in enumerate(pv))
    ext = (
        frontier.selectExpr("*", f"stack({level}, {slots}) AS (s, anchor)")
        .join(lab_sym.selectExpr("src AS anchor", "dst AS w", "ld AS lw"), "anchor")
        .selectExpr("*", f"CASE {partner} ELSE -1 - ({below}) END AS t")
        .join(F.broadcast(trans), ["q", "s", "t"])
    )

    old = [*pv, "NULL"]
    grow = [
        f"CASE WHEN ins > {i} THEN {old[i]} WHEN ins = {i} THEN w"
        + (f" ELSE {old[i - 1]}" if i else "")
        + f" END AS v{i}"
        for i in range(level + 1)
    ]
    at = f"{bits} * ins"
    # the new label's rank goes in at bit field ``ins``; a backward edge
    # (ins past every slot) adds none
    insert = (
        f"(lp & (shiftleft(1L, {at}) - 1)) | shiftleft(CAST(lw AS BIGINT), {at})"
        f" | shiftleft(shiftright(lp, {at}), {at} + {bits})"
    )
    return ext.selectExpr(
        *grow, f"CASE WHEN ins > {level} THEN lp ELSE {insert} END AS lp",
        "nq AS q", "sid", *_cols("a", level + 1),
    )


def _supports(canon: DataFrame, assigns: DataFrame, level: int, bits: int,
              minsup: int) -> DataFrame:
    """MNI supports ``(sid, code, support)`` with support ≥ minsup: each row
    meets every min-achieving assignment of its structure, keeps those
    that read its canonical label tuple, and emits (position, vertex)
    pairs; per-position distinct counts union symmetric positions."""
    width = level + 1
    vtx = _cols("v", width)
    read = _pack(
        [f"shiftright(lp, {bits} * g{p}) & {(1 << bits) - 1}" for p in range(width)],
        bits, level,
    )
    pairs = ", ".join(f"{p}, {_slot(vtx, f'g{p}')}" for p in range(width))
    return (
        canon.join(F.broadcast(assigns), "q")
        .filter(f"{read} = code")
        .selectExpr("sid", "code", f"stack({width}, {pairs}) AS (pos, vtx)")
        .filter("vtx IS NOT NULL")
        .groupBy("sid", "code", "pos")
        .agg(F.countDistinct("vtx").alias("d"))
        .groupBy("sid", "code")
        .agg(F.min("d").alias("support"))
        .filter(F.col("support") >= minsup)
    )


def _mine(sym_edges, labeled_vertices, k, minsup=None, minsup_fn=None,
          stats=None):
    """Shared frontier loop → ``(patterns, labels)``: the frequent k-edge
    patterns as ``[(canon_edges, canon_ranks, support)]`` and the label
    of each rank.

    ``minsup_fn`` folds adaptive support into the mine: it receives the
    SYMMETRIC edge count (already an action the loop needs for AQE
    gating) so callers don't pay a second scan of the input. ``stats``
    (a dict, opt-in) collects per-level candidate/frequent counts for
    bench reporting."""
    from graphminer_spark.checkpoint import _release, superstep_planning

    if not 1 <= k <= MAX_K:
        raise ValueError(f"fsm: k must be in 1..{MAX_K}, got {k}")
    spark = sym_edges.sparkSession
    lv = labeled_vertices.select("id", "vlabel")
    # null is a label of its own, ordered before every other one
    labels = sorted(
        (r[0] for r in lv.select("vlabel").distinct().collect()),
        key=lambda x: (x is not None, x),
    )
    bits = max(1, (len(labels) - 1).bit_length())
    if bits * (k + 1) > 63:
        raise ValueError(
            f"fsm: k={k} packs {k + 1} label ranks into 63 bits, room for "
            f"{1 << 63 // (k + 1)} distinct labels; got {len(labels)}"
        )
    ltype = lv.schema["vlabel"].dataType.simpleString()
    ranks = _table(
        spark,
        [(x, r) for r, x in enumerate(labels) if x is not None],
        f"vlabel {ltype}, r int",
    )
    ranked = lv.join(F.broadcast(ranks), "vlabel", "left").select(
        "id", F.coalesce("r", F.lit(0)).alias("r")
    )
    lab_sym = (
        sym_edges.select("src", "dst")
        .join(ranked.select(F.col("id").alias("dst"), F.col("r").alias("ld")),
              "dst")
        .join(ranked.select(F.col("id").alias("src"), F.col("r").alias("ls")),
              "src")
        .persist()
    )
    m_edges = lab_sym.count()
    if minsup is None:
        minsup = minsup_fn(m_edges)
    prev = None
    warned = False
    realized = {1}
    with superstep_planning(spark, m_edges):
        for level in range(1, k + 1):
            width = level + 1
            slots = [*_cols("v", width), "lp"]
            if level == 1:
                sids, canon_of, assigns = _structures(realized, level)
                sid, a = canon_of[1]
                # dedup on the (src, dst) long pair
                rows = (
                    lab_sym.filter(F.col("src") < F.col("dst"))
                    .dropDuplicates(["src", "dst"])
                    .select(
                        F.col("src").alias("v0"), F.col("dst").alias("v1"),
                        F.expr(f"ls | shiftleft(CAST(ld AS BIGINT), {bits})").alias("lp"),
                        F.lit(1).cast("long").alias("q"), F.lit(sid).alias("sid"),
                        *[F.lit(x).alias(f"a{p}") for p, x in enumerate(a)],
                    )
                )
            else:
                trans = _transitions(realized, level)
                sids, canon_of, assigns = _structures(
                    {r[3] for r in trans}, level
                )
                tdf = _table(
                    spark,
                    [(*r, canon_of[r[3]][0], *canon_of[r[3]][1]) for r in trans],
                    "q long, s int, t int, nq long, ins int, sid int, "
                    + ", ".join(f"{c} int" for c in _cols("a", width)),
                )
                rows = _extend(frontier, lab_sym, tdf, level, bits)
            # ONE pass: extension join → transition table → canonical
            # code; the level's rows are materialized once
            canon = (
                _with_code(rows, level, sids, bits)
                .select(*slots, "q", "sid", "code")
                .localCheckpoint(eager=True)
            )
            if prev is not None:
                warned = _release(prev, warned)
            prev = canon
            # ONE grouped collect serves both the realized structures
            # (next level's transition table) and the level's row count.
            # At the last level the structures feed nothing, so it runs
            # only when stats were requested.
            if level < k or stats is not None:
                counts = canon.groupBy("q").count().collect()
                realized = {r["q"] for r in counts}
                if stats is not None:
                    stats[f"level{level}_embeddings"] = sum(
                        r["count"] for r in counts
                    )
            adf = _table(
                spark, assigns,
                "q long, " + ", ".join(f"{c} int" for c in _cols("g", width)),
            )
            frequent = _supports(canon, adf, level, bits, minsup).collect()
            if stats is not None:
                stats[f"level{level}_frequent"] = len(frequent)
            if level < k and not frequent:
                # nothing is left to grow: every later level is empty
                if stats is not None:
                    for later in range(level + 1, k + 1):
                        stats[f"level{later}_embeddings"] = 0
                        stats[f"level{later}_frequent"] = 0
                break
            if level < k:
                codes: dict[int, list[int]] = {}
                for r in frequent:
                    codes.setdefault(r["sid"], []).append(r["code"])
                # anti-monotone prune: only embeddings of frequent
                # patterns stay on the frontier
                keep = " ".join(
                    f"WHEN {s} THEN {_in('code', c)}" for s, c in sorted(codes.items())
                )
                frontier = canon.filter(f"CASE sid {keep} ELSE false END").select(
                    *slots, "q"
                )
                if level == 1:
                    # gSpan's 1-edge fact: an extension edge whose label
                    # pair is infrequent cannot appear in any frequent
                    # pattern — shrink the extension table once, for every
                    # later level
                    pair = _pack(["least(ls, ld)", "greatest(ls, ld)"], bits, 1)
                    pruned = lab_sym.filter(_in(pair, codes[sid])).persist()
                    lab_sym.unpersist()
                    lab_sym = pruned
    _release(prev, warned)
    lab_sym.unpersist()
    mask = (1 << bits) - 1
    decoded = {s: e for e, s in sids.items()}
    out = []
    for r in frequent:
        cedges = decoded[r["sid"]]
        ranks = tuple(
            r["code"] >> bits * (k - p) & mask for p in range(_n_vertices(cedges))
        )
        out.append((cedges, ranks, r["support"]))
    return out, labels


def fsm_kedge_support(
    sym_edges: DataFrame,
    labeled_vertices: DataFrame,
    k: int,
    minsup: int,
    stats: dict | None = None,
) -> DataFrame:
    """Frequent k-edge patterns with MNI support → ``(code, support)``,
    support ≥ minsup; ``code`` is the canonical structure + minimal
    label tuple of the pattern, ``"((0, 1), ...)|[l0, l1, ...]"``.
    Driver loop = gSpan's level-wise frontier with anti-monotone support
    pruning between levels and canonical-parent extension (each
    candidate generated once).

    Limits: 1 ≤ k ≤ 10, and the k + 1 label ranks of a pattern pack into
    63 bits, so at most ``2 ** (63 // (k + 1))`` distinct labels (4096 at
    k = 4, 1024 at k = 5, 32 at k = 10); beyond either, ``ValueError``.
    A null label is a label of its own, ordered before every other one
    and written ``null`` in ``code``; edges at a vertex missing from
    ``labeled_vertices`` are left out."""
    pats, labels = _mine(sym_edges, labeled_vertices, k, minsup, stats=stats)
    rows = [
        (
            f"{cedges!r}|["
            + ", ".join("null" if labels[x] is None else str(labels[x]) for x in ranks)
            + "]",
            sup,
        )
        for cedges, ranks, sup in pats
    ]
    return _table(
        sym_edges.sparkSession, rows, "code string, support long", nullable=True
    )


def fsm_4edge_support(
    sym_edges: DataFrame,
    labeled_vertices: DataFrame,
    minsup: int | None = None,
    minsup_fn=None,
    stats: dict | None = None,
) -> DataFrame:
    """Frequent 4-edge patterns with MNI support in the named-shape
    layout → ``(shape, q1, q2, q3, q4, q5, support)``; q5 = -1 for the
    4-vertex shapes (cycle4 / paw), and a null label is a null ``q*``.
    The gate-facing face of :func:`fsm_kedge_support` — same frontier
    loop, plus a driver-side decode of each frequent canonical pattern
    into the shape-semantic key the DuckDB oracle reproduces.
    ``minsup_fn`` (symmetric edge count → minsup) resolves adaptive
    support inside the mine's existing count action — no extra input
    scan. Limits and the null-label rule are :func:`fsm_kedge_support`'s
    at k = 4: at most 4096 distinct labels."""
    pats, labels = _mine(sym_edges, labeled_vertices, 4, minsup, minsup_fn, stats=stats)
    rows = []
    for cedges, ranks, sup in pats:
        # decoded on ranks, which order like the labels, null first
        shape, *key = _decode_4edge(cedges, ranks)
        rows.append((shape, *(labels[x] if x >= 0 else -1 for x in key), sup))
    return _table(
        sym_edges.sparkSession,
        rows,
        "shape string, q1 int, q2 int, q3 int, q4 int, q5 int, support long",
        nullable=True,
    )
