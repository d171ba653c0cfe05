"""k-truss decomposition by iterative support peeling.

The k-truss is the maximal subgraph in which every edge participates
in at least ``k - 2`` triangles *within the subgraph* (Cohen 2008,
"Trusses: cohesive subgraphs for social network analysis") — the
edge-analogue of the k-core and the densest-region primitive the
reference's clique/motif kernels circle around (its k-core peeling
lives in ``src/common/graph.cc:679-729``; truss is the natural next
rung and is parity-plus breadth here).

Algorithm — iterate until fixpoint:

1. orient the surviving canonical edge set by degree order
   (``build_dag``) and enumerate each triangle exactly once with the
   same two-join wedge plan as ``tc_total``;
2. explode every triangle into its three canonical ``(src, dst)``
   edges and count per-edge support with one groupBy;
3. keep edges with support ≥ k-2; stop when the edge count is stable.

The surviving edge SET is orientation-independent (support counts are
properties of the undirected graph), so the DuckDB oracle may — and
does — enumerate triangles with the simpler ascending-id orientation
while Spark uses the degree-ordered one; they agree exactly.

Scale shape: every round is one triangle enumeration (wedge work
bounded by Σ min-degree per edge under the degree orientation — the
``tc_total`` bound), one explode+groupBy (partial-combinable), and one
inner join back to the edge set. Peeling is monotone (edges only
leave), so rounds are bounded by the cascade depth — single digits on
web graphs — and each round's input shrinks. The fixpoint check rides
the same aggregate that materializes the round's state (ONE driver
action per round, the ``kcore``/``pagerank`` fusion).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphminer_spark.checkpoint import CheckpointManager, run_supersteps
from graphminer_spark.graph.build import build_dag


def _support(dag: DataFrame, broadcast_dag: bool = False) -> DataFrame:
    """Per-edge triangle support over an oriented edge set →
    ``(src, dst, cnt)`` keyed by the canonical pair; edges in no
    triangle are absent. ``broadcast_dag`` broadcasts the wedge/close
    probe sides (the caller gates it on the KNOWN surviving-edge count
    — checkpointed states have no stats, so the planner alone would
    never pick the broadcast plan the ``tc_total`` cache gets)."""
    e1 = dag.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    e2 = dag.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    e3 = dag.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    if broadcast_dag:
        e2 = F.broadcast(e2)
        e3 = F.broadcast(e3)
    tri = e1.join(e2, "v").join(e3, ["u", "w"])
    pairs = tri.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("u", "v").alias("src"),
                    F.greatest("u", "v").alias("dst"),
                ),
                F.struct(
                    F.least("v", "w").alias("src"),
                    F.greatest("v", "w").alias("dst"),
                ),
                F.struct(
                    F.least("u", "w").alias("src"),
                    F.greatest("u", "w").alias("dst"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    return pairs.groupBy("src", "dst").agg(F.count("*").alias("cnt"))


def ktruss(
    sym_edges: DataFrame,
    k: int,
    checkpointer: CheckpointManager | None = None,
    max_iter: int = 50,
) -> DataFrame:
    """Edges of the k-truss → canonical ``(src, dst)`` rows.

    ``sym_edges`` is the symmetric (both-directions) table of a simple
    graph; the canonical set is its ``src < dst`` half. For k ≤ 2 the
    truss is the whole graph by definition.
    """
    und = sym_edges.filter(F.col("src") < F.col("dst")).select("src", "dst")
    if k <= 2:
        return und
    # orientation is built ONCE and kept out of the release chain (every
    # round reads it): acyclicity is inherited by every surviving
    # subset, so each round only semi-joins the oriented table against
    # the survivors (by the canonical key) instead of re-aggregating
    # degrees. The wedge bound degrades gracefully — it holds w.r.t.
    # the ORIGINAL degree order, which upper-bounds the shrinking
    # subgraph's.
    dag0 = build_dag(und).select(
        "src",
        "dst",
        F.least("src", "dst").alias("ksrc"),
        F.greatest("src", "dst").alias("kdst"),
    ).localCheckpoint(eager=True)
    # surviving-edge count is KNOWN before every round (it rides the
    # materializing aggregate) — below the cap the whole round runs as
    # broadcast joins with zero wedge shuffles, the same plan shape the
    # persisted tc_total cache gets from the planner; above it the
    # shuffle plan is unchanged (a 10^9-edge truss can't broadcast)
    BCAST_MAX_EDGES = 2_000_000

    def step(und: DataFrame, it: int, prev) -> DataFrame:
        small = prev["n"] <= BCAST_MAX_EDGES
        surv = und.select(F.col("src").alias("ksrc"), F.col("dst").alias("kdst"))
        dag = dag0.join(
            F.broadcast(surv) if small else surv, ["ksrc", "kdst"], "left_semi"
        ).select("src", "dst")
        sup = _support(dag, broadcast_dag=small)
        return (
            und.join(sup, ["src", "dst"])
            .filter(F.col("cnt") >= k - 2)
            .select("src", "dst")
        )

    count = [F.count("*").alias("n")]
    und, *_ = run_supersteps(
        checkpointer, f"ktruss{k}", und, step, count,
        lambda row, prev: row["n"] == prev["n"], max_iter,
        lambda row: row["n"] * 2, init_aggs=count,
    )
    return und


def ktruss_sql(k: int, rounds: int = 12) -> str:
    """Unrolled DuckDB peeling (exact oracle for :func:`ktruss`;
    fragment — the standard graph CTEs with ``sym`` must be in scope).

    Peeling is a monotone fixpoint: once stable, further rounds are
    identity, so a generous fixed unroll is exact as long as it covers
    the true round count (asserted against the Spark loop's iteration
    count in pytest, the ``kcore_sql`` convention). Triangles are
    enumerated with the ascending-id orientation — the surviving edge
    set is orientation-independent.
    """
    parts = [
        "und0 AS MATERIALIZED (SELECT src, dst FROM sym WHERE src < dst)"
    ]
    prev = "und0"
    for i in range(1, rounds + 1):
        parts.append(
            f"t{i} AS MATERIALIZED ("
            f"SELECT e1.src AS a, e1.dst AS b, e2.dst AS c "
            f"FROM {prev} e1 JOIN {prev} e2 ON e2.src = e1.dst "
            f"JOIN {prev} e3 ON e3.src = e1.src AND e3.dst = e2.dst)"
        )
        parts.append(
            f"s{i} AS (SELECT src, dst, count(*) AS cnt FROM ("
            f"SELECT a AS src, b AS dst FROM t{i} "
            f"UNION ALL SELECT b, c FROM t{i} "
            f"UNION ALL SELECT a, c FROM t{i}) GROUP BY src, dst)"
        )
        parts.append(
            f"und{i} AS MATERIALIZED (SELECT u.src, u.dst FROM {prev} u "
            f"JOIN s{i} s ON s.src = u.src AND s.dst = u.dst "
            f"WHERE s.cnt >= {k - 2})"
        )
        prev = f"und{i}"
    return f"{', '.join(parts)} SELECT src, dst FROM {prev}"
