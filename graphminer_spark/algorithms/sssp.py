"""Weighted single-source shortest paths (Bellman–Ford supersteps).

The weighted companion to :func:`components.bfs_distances`: edge
weights are deterministic md5-derived integers in [1, 10] on the
canonical (least, greatest) pair — symmetric by construction and
SQL-expressible, so the whole relaxation has an exact DuckDB oracle
(the repo's salted-hash idiom; no RNG state to replicate).

Each superstep is one full min-plus relaxation:

    dist_t(v) = min(dist_{t-1}(v), min_{(u,v)∈E} dist_{t-1}(u) + w(u,v))

— one equi-join + one min-groupBy, the BFS plan with ``+ w`` instead
of ``+ 1``. Distances are monotone non-increasing and the reached set
monotone growing, so a round that changes nothing is an exact fixpoint
witness and a generous oracle unroll is exact (asserted in pytest).

Scale: identical shuffle shape to one PageRank superstep. Rounds are
bounded by the maximum HOP count of a min-weight path (not by total
weight); at trillion-edge scale the refinement is delta-stepping
(Meyer–Sanders) — bucketing the frontier by distance range so light
edges settle in-bucket — which keeps the same join-per-round skeleton
with a bucket filter; full-relax Bellman–Ford is the Spark-native
baseline and matches the oracle round-for-round.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphminer_spark.checkpoint import CheckpointManager, run_supersteps

W_MOD = 9  # weights in [1, 1 + W_MOD - 1] = [1, 9] + 1 → [1, 10)


def _weight(src: Column, dst: Column) -> Column:
    """Deterministic integer weight in [1, 9] for the undirected edge
    {src, dst} — md5 of the canonical pair, same idiom (and the same
    first-8-hex-chars window) as the sketch/sampling modules."""
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.least(src, dst).cast("string"),
                    F.greatest(src, dst).cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return (h % W_MOD) + 1


def weighted_edges(sym_edges: DataFrame) -> DataFrame:
    """``(src, dst, w)`` — the symmetric table annotated with the
    deterministic weight (both directions of an undirected edge carry
    the same w)."""
    return sym_edges.select(
        "src", "dst", _weight(F.col("src"), F.col("dst")).alias("w")
    )


def _relax(
    edges: DataFrame,
    seeds: DataFrame,
    m: int,
    checkpointer: CheckpointManager | None,
    max_iter: int,
    algo: str,
) -> DataFrame:
    """Min-plus relaxation to fixpoint over ``edges(src, dst, w)`` from
    ``seeds(id, dist)`` → ``(id, dist)`` — the one loop behind SSSP,
    BFS (w = 1) and SCC's min-label reachability (w = 0, every vertex
    seeded with its own id). ``m`` gates AQE for the loop.

    Frontier-restricted (the queue form of Bellman–Ford): only vertices
    whose distance improved last round emit candidates. The per-round
    distance table is IDENTICAL to the full relaxation — a candidate
    from an unchanged u, dist_{t-1}(u) + w, was already offered the
    round u last changed and applied by monotonicity — so the unrolled
    oracles still match round-for-round, while each round joins only
    the frontier's edges instead of all of them (measured: the frontier
    falls below 1% of |V| within a few rounds on the sf0.1 divisor-6
    graph; full-relax rounds were the entire cost of the 8.7 s SSSP
    bench row). The changed-count rides the materializing aggregate —
    ONE action per round — and doubles as the fixpoint test."""
    e = edges.select(F.col("src").alias("id"), "dst", "w")

    def step(state: DataFrame, it: int, prev) -> DataFrame:
        cand_min = (
            state.filter("chg").select("id", "dist").join(e, "id")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("nd"))
        )
        return (
            state.select("id", "dist")
            .join(cand_min.hint("shuffle_hash"), "id", "full_outer")
            .select(
                "id",
                F.least(
                    F.coalesce("dist", F.col("nd")),
                    F.coalesce("nd", F.col("dist")),
                ).alias("dist"),
                F.coalesce(
                    F.col("dist").isNull() | (F.col("nd") < F.col("dist")),
                    F.lit(False),
                ).alias("chg"),
            )
        )

    state, *_ = run_supersteps(
        checkpointer, algo, seeds.withColumn("chg", F.lit(True)), step,
        [F.sum(F.col("chg").cast("long")).alias("changed")],
        lambda row, _: not row["changed"], max_iter, m,
    )
    return state.select("id", "dist")


def sssp(
    sym_edges: DataFrame,
    source: int,
    checkpointer: CheckpointManager | None = None,
    max_iter: int = 100,
) -> DataFrame:
    """Weighted shortest-path distances from ``source`` →
    ``(id, dist)`` over reachable vertices."""
    seed = sym_edges.sparkSession.createDataFrame([(source, 0)], "id long, dist long")
    ew = weighted_edges(sym_edges).repartition("src").persist()
    try:
        return _relax(ew, seed, ew.count(), checkpointer, max_iter, "sssp")
    finally:
        ew.unpersist()


_W_SQL = (
    "(((('0x' || substr(md5(least(src, dst)::VARCHAR || ':' || "
    f"greatest(src, dst)::VARCHAR), 1, 8))::BIGINT) % {W_MOD}) + 1)"
)


def sssp_sql(source: int, rounds: int = 30) -> str:
    """Unrolled Bellman–Ford relaxation (exact oracle for
    :func:`sssp`; fragment — ``sym`` must be in scope). Monotone min
    fixpoint ⇒ a generous unroll past the max hop count of any
    min-weight path is exact (round count asserted in pytest)."""
    parts = [
        f"ew AS MATERIALIZED (SELECT src, dst, {_W_SQL} AS w FROM sym)",
        f"w0 AS (SELECT {source}::BIGINT AS id, 0::BIGINT AS dist)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"w{i} AS MATERIALIZED (SELECT id, min(dist) AS dist FROM ("
            f"SELECT id, dist FROM w{i - 1} "
            f"UNION ALL "
            f"SELECT e.dst AS id, b.dist + e.w AS dist "
            f"FROM w{i - 1} b JOIN ew e ON e.src = b.id"
            f") GROUP BY id)"
        )
    return f"{', '.join(parts)} SELECT id, dist FROM w{rounds}"
