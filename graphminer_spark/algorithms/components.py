"""Connected components: large-star/small-star hash-min (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14), plus
unweighted BFS distances.

The alternating algorithm converges in O(log² n) supersteps regardless
of diameter — the scale path for web graphs where plain hash-min needs
O(diameter) rounds. Each phase is one groupBy + one join (two shuffles
per superstep); no ``collect_list`` anywhere, so hub vertices never
materialize their full neighborhood on one task.

Output labels = min vertex id per component, matching the reference-
style exactness requirement (bitwise integer equality across
parallelism levels).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphminer_spark.checkpoint import CheckpointManager, run_supersteps


def _large_star(edges: DataFrame) -> DataFrame:
    """large-star: for each u, connect all strictly-larger neighbors to
    m = min(Γ(u) ∪ {u})."""
    sym = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        sym.filter(F.col("v") > F.col("u"))
        .join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """small-star: orient larger→smaller, then for each u connect its
    (smaller) neighbors and u itself to m = min(Γ⁻(u) ∪ {u})."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    m = directed.groupBy("u").agg(F.min("v").alias("m"))  # min(v) < u always
    nbr_edges = (
        directed.join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    self_edges = m.select(F.col("u"), F.col("m").alias("v"))
    return nbr_edges.unionByName(self_edges).distinct()


def _fingerprint_aggs() -> list:
    """Order-insensitive content fingerprint aggregates: row count plus
    two independent 64-bit xxhash64 sums, one per key order — a
    shuffle-free convergence check. A false convergence needs
    simultaneous collision of both 64-bit sums AND an unchanged row
    count (~2^-128 per superstep)."""
    dec = "decimal(38,0)"  # exact sums of full-range 64-bit hashes
    return [
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.xxhash64("u", "v").cast(dec)), F.lit(0)).alias("h1"),
        F.coalesce(F.sum(F.xxhash64("v", "u").cast(dec)), F.lit(0)).alias("h2"),
    ]


def _fp_of(row) -> tuple[int, int, int]:
    return int(row["n"]), int(row["h1"]), int(row["h2"])


def connected_components(
    sym_edges: DataFrame,
    vertices: DataFrame | None = None,
    checkpointer: CheckpointManager | None = None,
    max_iter: int = 50,
) -> DataFrame:
    """Component labels ``(id, component)`` with component = min member.

    ``sym_edges(src,dst)`` may be directed or symmetric — connectivity
    treats edges as undirected. ``vertices(id)`` optionally supplies
    isolated vertices (label = self).
    """
    edges = (
        sym_edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # ONE action per round: the convergence fingerprint aggregates run
    # in the same job that materializes the round's checkpointed state;
    # AQE is gated on the init fingerprint's first field, the edge count
    edges, *_ = run_supersteps(
        checkpointer, "cc", edges,
        lambda edges, it, prev: _small_star(_large_star(edges)),
        _fingerprint_aggs(), lambda row, prev: _fp_of(row) == _fp_of(prev),
        max_iter, lambda row: row["n"], init_aggs=_fingerprint_aggs(),
    )
    # converged: edges form stars (u → component-min); roots label selves
    members = edges.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = edges.select(F.col("v").alias("id"), F.col("v").alias("component"))
    labels = members.unionByName(roots).distinct()
    if vertices is not None:
        isolated = vertices.select("id").join(labels, "id", "left_anti")
        labels = labels.unionByName(
            isolated.select("id", F.col("id").alias("component"))
        )
    return labels


def bfs_distances(
    sym_edges: DataFrame,
    source: int,
    checkpointer: CheckpointManager | None = None,
    max_iter: int = 100,
) -> DataFrame:
    """Unweighted single-source shortest-path distances →
    ``(id, dist)`` over vertices reachable from ``source``.

    The weighted relaxation of :func:`sssp.sssp` with every edge
    weight 1: each round extends the reached set one hop from the
    vertices that changed last round, and stops when no distance
    changes. Rounds = eccentricity of the source, each one join + one
    aggregate — the textbook Pregel BFS as DataFrames.
    """
    from graphminer_spark.algorithms.sssp import _relax

    seed = sym_edges.sparkSession.createDataFrame([(source, 0)], "id long, dist long")
    edges = sym_edges.select("src", "dst", F.lit(1).cast("long").alias("w"))
    return _relax(edges, seed, sym_edges.count(), checkpointer, max_iter, "bfs")
