"""k-core decomposition by iterative peeling.

Reference: bucket-sort peeling in ``src/common/graph.cc:679-729``
(used by the subgraph-query filter stage). The distributed form is the
standard iterate-until-fixpoint: repeatedly drop vertices with degree
< k and recompute degrees — each round one join + one aggregate, state
checkpointed like every other iterative algorithm here.

``kcore(edges, k)`` returns the k-core's vertex set;
``core_numbers_hindex`` returns every vertex's coreness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphminer_spark.checkpoint import CheckpointManager, run_supersteps


def kcore(
    sym_edges: DataFrame,
    k: int,
    checkpointer: CheckpointManager | None = None,
    max_iter: int = 100,
) -> DataFrame:
    """Vertices of the k-core → ``(id,)``."""

    def step(edges: DataFrame, it: int, prev) -> DataFrame:
        deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select("src")
        return (
            edges.join(keep, "src", "left_semi")
            .join(keep.select(F.col("src").alias("dst")), "dst", "left_semi")
        )

    # ONE action per round: the fixpoint check (edge count unchanged)
    # rides the same aggregate that materializes the round's state
    count = [F.count("*").alias("n")]
    edges, *_ = run_supersteps(
        checkpointer, f"kcore{k}", sym_edges.select("src", "dst"), step,
        count, lambda row, prev: row["n"] == prev["n"], max_iter,
        lambda row: row["n"], init_aggs=count,
    )
    return edges.select(F.col("src").alias("id")).distinct()


def core_numbers_hindex(
    sym_edges: DataFrame,
    checkpointer: CheckpointManager | None = None,
    max_iter: int = 200,
) -> DataFrame:
    """Coreness per vertex → ``(id, core)`` by distributed h-index
    iteration (Lu et al., "Distributed k-core decomposition", and the
    locality property of Montresor et al.): start from c(v) = deg(v)
    and repeatedly set c(v) to the h-index of its neighbors' values —
    the unique fixpoint is the coreness.

    Scale shape (the reason this replaces a per-k peeling loop at
    100 TB): every round is one equi-join
    (neighbor value fetch) + one (src, value) pre-aggregation + a
    per-vertex window over DISTINCT neighbor values — a hub with 10^6
    neighbors collapses to ≤ max-coreness window rows, so no
    adjacency is ever materialized per row, and the number of rounds
    is bounded by the value-decrease chain, not by max-coreness many
    full peels.

    A changed-neighbor frontier (Lu et al.'s locality optimization —
    recompute only vertices adjacent to a changed one) was built and
    measured, and REJECTED: in Spark the frontier restriction is a
    semi-join that itself shuffles the full edge table, so it adds a
    round-trip instead of saving the scan. Best-of-N A/B: 24.5 s full
    recompute vs 35.8 s frontier at 600k edges; 93 s vs 230 s at 48M
    edges (BENCH/BASELINE.md "negative results"). A frontier only
    pays here with a map-side (broadcast) probe, whose size no gate
    can bound ahead of time — changed counts stay 1-27% of |V| for
    most of the 15-round trajectory measured at sf0.1.
    """
    from pyspark.sql import Window

    # edge table persisted in the per-round JOIN key's layout (dst):
    # the neighbor-value fetch then starts exchange-free every round
    # (the core-value side arrives partitioned by id from the previous
    # round's state), and the single explicit repartition by src below
    # is the round's only shuffle — the (src, core) aggregation, the
    # src-window and the final per-src argmax all reuse it via the
    # subset rule. The old plan re-shuffled the edge table and the
    # aggregate every round (3 exchanges).
    edges = sym_edges.select("src", "dst").repartition("dst").persist()
    c = (
        edges.groupBy(F.col("src").alias("id"))
        .agg(F.count("*").alias("core"))
    )
    w = (
        Window.partitionBy("src")
        .orderBy(F.col("core").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    def step(c: DataFrame, it: int, prev) -> DataFrame:
        c = c.select("id", "core")
        vals = (
            edges.join(c.select(F.col("id").alias("dst"), "core"), "dst")
            .repartition("src")
            .groupBy("src", "core")
            .agg(F.count("*").alias("n"))
        )
        # h-index over distinct values: cum = #neighbors with value >=
        # core; candidate h = min(core, cum); h-index = max candidate
        h = (
            vals.withColumn("cum", F.sum("n").over(w))
            .groupBy(F.col("src").alias("id"))
            .agg(F.max(F.least("core", "cum")).alias("h"))
        )
        # h(v) can only decrease; carry prev inside the state so the
        # changed-count is one scan of the materializing aggregate —
        # ONE driver action per round (same fusion as pagerank)
        return c.join(h.hint("shuffle_hash"), "id").select(
            "id", F.col("h").alias("core"), F.col("core").alias("prev")
        )

    c, *_ = run_supersteps(
        checkpointer, "coreness_hindex", c, step,
        [F.sum(F.when(F.col("core") != F.col("prev"), 1).otherwise(0)).alias("changed")],
        lambda row, _: not row["changed"], max_iter, edges.count(),
    )
    edges.unpersist()
    return c.select("id", "core")
