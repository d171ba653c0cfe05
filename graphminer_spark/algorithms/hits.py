"""HITS (hubs & authorities) and local clustering coefficient.

Link-graph companions to PageRank (Kleinberg JACM'99): authority =
in-sum of hub scores, hub = out-sum of authority scores, L1-normalized
each half-step. Same superstep shape as ``pagerank`` — one equi-join +
one aggregate per half-step over the persisted edge tables, one driver
action per iteration — so the plan scales identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphminer_spark.checkpoint import CheckpointManager, run_supersteps


def _iterate(
    ew: DataFrame,
    vertices: DataFrame,
    n_iter: int,
    checkpointer: CheckpointManager | None,
    algo: str,
    to_auth: Column,
    to_hub: Column,
) -> DataFrame:
    """The HITS/SALSA superstep over the edge table ``ew(src, dst, ...)``
    → ``(id, hub, auth)``. ``to_auth`` is an edge's contribution to its
    dst's authority (over ``hub`` and the edge's columns), ``to_hub``
    its contribution to its src's hub score (over ``a_raw``).

    ONE action per iteration: the L1 normalization of ``auth`` cancels
    out of the next normalized hub score (hub ∝ Σ a_raw, SALSA's
    hub ∝ Σ a_raw/idg), so an iteration commits the UNnormalized
    ``(id, a_raw, h_raw)`` and its one fused aggregate returns both
    sums; the next iteration and the result normalize by them.

    Durable-checkpoint layout: EVERY saved iteration is
    ``(id, a_raw, h_raw)`` (all ones at iteration 0). A consumer of
    ``CheckpointManager.latest()`` derives ``hub = h_raw / sum(h_raw)``
    and ``auth = a_raw / sum(a_raw)`` with one scan, at any iteration."""
    verts = vertices.select("id").repartition("id").persist()
    # the two gathers join on DIFFERENT keys (src for the authority
    # gather, dst for the hub gather) — persist one copy per layout so
    # neither re-shuffles the edge table (the score side is one row
    # per vertex and already arrives partitioned by id)
    e_src = ew.repartition("src").persist()
    e_dst = ew.repartition("dst").persist()
    m = e_src.count()
    e_dst.count()

    def step(state: DataFrame, it: int, prev) -> DataFrame:
        hub = state.select(
            F.col("id").alias("src"), (F.col("h_raw") / (prev["sh"] or 1.0)).alias("hub")
        )
        a_raw = (
            e_src.join(hub, "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(to_auth).alias("a_raw"))
        )
        h_raw = (
            e_dst.join(a_raw.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum(to_hub).alias("h_raw"))
        )
        return (
            state.select("id")
            .join(a_raw, "id", "left")
            .join(h_raw, "id", "left")
            .select(
                "id",
                F.coalesce("a_raw", F.lit(0.0)).alias("a_raw"),
                F.coalesce("h_raw", F.lit(0.0)).alias("h_raw"),
            )
        )

    sums = [F.sum("a_raw").alias("sa"), F.sum("h_raw").alias("sh")]
    state, row, *_ = run_supersteps(
        checkpointer, algo,
        verts.select("id", F.lit(1.0).alias("a_raw"), F.lit(1.0).alias("h_raw")),
        step, sums, None, n_iter, m, init_aggs=sums,
    )
    verts.unpersist()
    e_src.unpersist()
    e_dst.unpersist()
    return state.select(
        "id",
        (F.col("h_raw") / (row["sh"] or 1.0)).alias("hub"),
        (F.col("a_raw") / (row["sa"] or 1.0)).alias("auth"),
    )


def hits(
    edges: DataFrame,
    vertices: DataFrame,
    n_iter: int = 5,
    checkpointer: CheckpointManager | None = None,
) -> DataFrame:
    """``(id, hub, auth)`` after ``n_iter`` HITS iterations over the
    directed ``edges(src, dst)``; both score vectors L1-normalize to
    1.0 every half-step (the convergent formulation). Durable
    checkpoints hold ``(id, a_raw, h_raw)`` (see ``_iterate``)."""
    return _iterate(
        edges.select("src", "dst"), vertices, n_iter, checkpointer, "hits",
        F.col("hub"), F.col("a_raw"),
    )


def salsa(
    edges: DataFrame,
    vertices: DataFrame,
    n_iter: int = 5,
    checkpointer: CheckpointManager | None = None,
) -> DataFrame:
    """SALSA (Lempel–Moran, "The stochastic approach for link-structure
    analysis", WWW'00) → ``(id, hub, auth)`` after ``n_iter``
    iterations: HITS with degree-normalized contributions, i.e. the
    power iteration of the bipartite random walk

        auth(v) = Σ_{u→v} hub(u)  / outdeg(u)
        hub(u)  = Σ_{u→v} auth(v) / indeg(v)

    L1-normalized every half-step (exact SALSA preserves the L1 mass,
    but dangling hubs/authorities leak it; explicit normalization is
    the convergent formulation, as in :func:`hits`).

    Plan: the degree-annotated edge table ``(src, dst, od, idg)`` is
    built ONCE and persisted; the iteration is then :func:`hits`'s —
    identical shuffle shape and superstep fusion (ONE driver action per
    iteration), so it scales the same way.
    """
    od = edges.groupBy("src").agg(F.count("*").alias("od"))
    idg = edges.groupBy("dst").agg(F.count("*").alias("idg"))
    ew = edges.select("src", "dst").join(od, "src").join(idg, "dst")
    return _iterate(
        ew, vertices, n_iter, checkpointer, "salsa",
        F.col("hub") / F.col("od"), F.col("a_raw") / F.col("idg"),
    )


def clustering_coefficient(
    canonical_edges: DataFrame, dag: DataFrame
) -> DataFrame:
    """Per-vertex triangle count and local clustering coefficient in
    basis points: ``lcc_bp = (10000 · 2 · tri(v)) // (deg(v)·(deg(v)−1))``
    for vertices with deg ≥ 2 (integer arithmetic → exact cross-engine
    agreement). tri(v) derives from the shared triangle enumeration;
    no per-vertex adjacency materialization.
    """
    from graphminer_spark.algorithms.triangles import enumerate_triangles
    from graphminer_spark.graph.build import degrees, symmetrize

    deg = degrees(symmetrize(canonical_edges, dedup=False))
    tri = enumerate_triangles(dag)
    per_v = (
        tri.select(F.col("u").alias("id"))
        .unionByName(tri.select(F.col("v").alias("id")))
        .unionByName(tri.select(F.col("w").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("tri_cnt"))
    )
    return (
        deg.filter(F.col("deg") >= 2)
        .join(per_v, "id", "left")
        .select(
            "id",
            F.coalesce("tri_cnt", F.lit(0)).alias("tri_cnt"),
            # `div` = exact BIGINT division (matches DuckDB's `//`);
            # float division + floor would risk off-by-one at the ulp
            F.expr(
                "(20000 * coalesce(tri_cnt, 0)) div (deg * (deg - 1))"
            ).alias("lcc_bp"),
        )
    )
