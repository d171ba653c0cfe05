"""Distributed greedy graph coloring (Jones–Plassmann).

Jones & Plassmann (1993): repeatedly color the vertices whose
hash-priority is a strict local maximum among *uncolored* neighbors;
each winner takes the smallest color unused by its already-colored
neighbors (the "mex"). Winners of one round are pairwise non-adjacent
(strict local maxima), earlier-colored neighbors are avoided by
construction, and later vertices avoid the winner's color — so the
coloring is proper, uses at most ``max_deg + 1`` colors, and finishes
in O(log n / log log n) rounds w.h.p.

Determinism: priorities are md5-derived (the same DOULION-style
derandomization ``mis.py``/the samplers use), ties break by vertex id,
so the coloring is bitwise identical at any parallelism and the DuckDB
oracle replays it round-for-round.

mex without a blow-up: the smallest free color is either 0 or
``c + 1`` for some colored-neighbor color ``c`` — so the candidate set
is the neighbor-color set shifted, never a dense 0..deg range. Spark
computes it as a no-shuffle fold over the sorted distinct
neighbor-color array (``aggregate(array_sort(...), 0,
(acc, x) -> if(x = acc, acc + 1, acc))``); the SQL oracle uses the
equivalent relational form (min candidate not in the neighbor set).

Superstep shape: one min/max aggregate over the active edge set + one
join against the colored table per round; the active set shrinks
geometrically, so total work is O(|E|) in expectation — the same
contract as MIS. Skew: a hub's neighbor-color array is at most its
degree; at the 10^12-edge scale the fold stays linear in degree and
the array lives in one row — for degrees beyond executor row limits,
split hubs with the salt keys the north-rule PR path uses.

Reference analogue: GraphMiner has no coloring kernel; this extends
the symmetry-breaking family (MIS) with the scheduling primitive
(conflict-free crawl/update rounds) a link-graph pipeline needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphminer_spark.algorithms.mis import _prio


def greedy_coloring(
    sym_edges: DataFrame,
    max_rounds: int = 60,
    checkpointer: "CheckpointManager | None" = None,
) -> tuple[DataFrame, int]:
    """Jones–Plassmann coloring over a symmetric, deduplicated,
    loop-free edge table → ``((id, color), rounds)``; colors are dense
    non-negative ints, deterministic at any parallelism.

    JP runs an order of magnitude more rounds than MIS (a vertex waits
    for ALL higher-priority active neighbors, not just a round win, so
    the round count tracks the longest decreasing-priority path — ~50
    at 10k vertices), so the superstep is FUSED to one driver action:
    the count that decides termination materializes the round's lazy
    ``localCheckpoint`` s (new colors + shrunken active set) as a side
    effect. An eager-save-per-state variant measured 78 s at sf0.01
    sparse; the fused loop is the same plan with ~1 job per round.
    """
    from graphminer_spark.checkpoint import run_supersteps

    # ONE vertex-state table (id, p, color-or-NULL) replaces the four
    # per-round tables of the r05 shape (active_v / active_e / colored
    # / new_colors): a single dst-keyed join of the static edge table
    # against the state yields BOTH the winner test (max active-
    # neighbor priority = max over rows with NULL neighbor color) and
    # the mex input (set of non-NULL neighbor colors) in one groupBy —
    # the round is ONE exchange + one state checkpoint where the old
    # plan ran ~5 exchanges and 4 lazy checkpoints per round. Winner
    # sets and mex inputs are value-identical to the r05 plan (active
    # == color IS NULL; the colored table == non-NULL colors of the
    # previous round's state), so the coloring and the round count are
    # bit-for-bit unchanged.
    full_e = sym_edges.select("src", "dst").repartition("dst").persist()
    n_sym = full_e.count()
    verts = full_e.select(F.col("src").alias("id")).distinct()
    state = verts.select(
        "id",
        _prio(F.col("id")).alias("p"),
        F.lit(None).cast("int").alias("color"),
    )

    def step(state: DataFrame, it: int, prev) -> DataFrame:
        state = state.select("id", "p", "color")
        nb = full_e.join(
            state.select(
                F.col("id").alias("dst"),
                F.col("p").alias("np"),
                F.col("color").alias("ncol"),
            ),
            "dst",
        )
        grouped = nb.groupBy(F.col("src").alias("id")).agg(
            F.max(
                F.when(
                    F.col("ncol").isNull(),
                    F.struct(F.col("np"), F.col("dst").alias("nid")),
                )
            ).alias("mx"),
            F.array_sort(
                F.collect_set(F.when(F.col("ncol").isNotNull(), F.col("ncol")))
            ).alias("cols"),
        )
        is_winner = F.col("color").isNull() & (
            F.col("mx").isNull()
            | (F.struct(F.col("p").alias("np"), F.col("id").alias("nid")) > F.col("mx"))
        )
        mex = F.coalesce(
            F.aggregate(
                F.col("cols"),
                F.lit(0),
                lambda acc, x: F.when(x == acc, acc + 1).otherwise(acc),
            ),
            F.lit(0),
        )
        return state.join(grouped.hint("shuffle_hash"), "id", "left").select(
            "id",
            "p",
            F.when(is_winner, mex).otherwise(F.col("color")).alias("color"),
            (is_winner & F.col("color").isNull()).cast("long").alias("won"),
        )

    # ONE action per round: the winner and still-uncolored counts
    # materialize the round's state
    state, last, _, rounds, done = run_supersteps(
        checkpointer, "coloring", state, step,
        [
            F.sum("won").alias("winners"),
            F.count_if(F.col("color").isNull()).alias("uncolored"),
        ],
        lambda row, _: row["uncolored"] == 0, max_rounds, n_sym,
    )
    full_e.unpersist()
    if not done:
        # exhaustion is not convergence (ADVICE r05): a caller must
        # never mistake a partial coloring for a complete one
        left = last["uncolored"] if last is not None else "all"
        raise RuntimeError(
            f"greedy_coloring: max_rounds={max_rounds} exhausted with "
            f"{left} vertices uncolored"
        )
    return state.filter(F.col("color").isNotNull()).select("id", "color"), rounds


def coloring_sql(n_rounds: int = 14) -> str:
    """DuckDB body replaying :func:`greedy_coloring` with the rounds
    unrolled (over the shared ``sym``/``deg`` CTEs). The mex uses the
    relational identity ``mex(S) = min(g ∈ {0} ∪ {c+1 : c ∈ S} : g ∉ S)``
    so no engine-specific fold is needed; like ``mis_sql`` the rounds
    are a monotone elimination, so a generous unroll is exact once it
    covers the true round count (pytest asserts the Spark loop finished
    in < ``n_rounds``)."""
    parts = [
        "v0 AS (SELECT src AS id, (('0x' || substr(md5(src::VARCHAR), 1, 8))::BIGINT) AS p "
        "FROM (SELECT DISTINCT src FROM sym))",
        "e0 AS (SELECT src, dst FROM sym)",
        "col0 AS (SELECT src AS id, 0 AS color FROM sym WHERE 1 = 0)",
    ]
    for t in range(1, n_rounds + 1):
        p, e, cprev = f"v{t - 1}", f"e{t - 1}", f"col{t - 1}"
        parts.append(
            f"w{t} AS MATERIALIZED (SELECT a.id FROM {p} a LEFT JOIN ("
            f"  SELECT ee.src AS id, max(ROW(n.p, n.id)) AS mx"
            f"  FROM {e} ee JOIN {p} n ON n.id = ee.dst GROUP BY ee.src"
            f") m ON m.id = a.id "
            f"WHERE m.mx IS NULL OR ROW(a.p, a.id) > m.mx)"
        )
        parts.append(
            f"nc{t} AS MATERIALIZED (SELECT DISTINCT s.src AS id, c.color "
            f"FROM sym s JOIN w{t} w ON w.id = s.src "
            f"JOIN {cprev} c ON c.id = s.dst)"
        )
        parts.append(
            f"newc{t} AS MATERIALIZED (SELECT w.id, coalesce(mx.color, 0) AS color "
            f"FROM w{t} w LEFT JOIN ("
            f"  SELECT g.id, min(g.g) AS color FROM ("
            f"    SELECT id, 0 AS g FROM w{t}"
            f"    UNION ALL SELECT id, color + 1 FROM nc{t}"
            f"  ) g WHERE NOT EXISTS (SELECT 1 FROM nc{t} n"
            f"      WHERE n.id = g.id AND n.color = g.g)"
            f"  GROUP BY g.id"
            f") mx ON mx.id = w.id)"
        )
        parts.append(
            f"col{t} AS MATERIALIZED (SELECT * FROM {cprev} "
            f"UNION ALL SELECT * FROM newc{t})"
        )
        parts.append(
            f"v{t} AS MATERIALIZED (SELECT * FROM {p} "
            f"WHERE id NOT IN (SELECT id FROM w{t}))"
        )
        parts.append(
            f"e{t} AS MATERIALIZED (SELECT ee.src, ee.dst FROM {e} ee "
            f"WHERE ee.src IN (SELECT id FROM v{t}) "
            f"AND ee.dst IN (SELECT id FROM v{t}))"
        )
    return (
        f"SELECT id, color FROM (WITH {', '.join(parts)} "
        f"SELECT id, color FROM col{n_rounds}) t"
    )
