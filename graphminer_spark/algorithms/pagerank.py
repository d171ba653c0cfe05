"""PageRank: power iteration with dangling-mass redistribution.

One superstep loop (``_iterate``) serves every variant of the math
rank' = t·((1-d) + d·dangling) + d·Σ in-contribs, where the teleport
vector t is uniform (1/N) or, with ``sources``, 1[v∈S]/|S|:

* ``pagerank`` — pure DataFrame joins: ranks ⋈ out-degree ⋈ edges →
  groupBy(dst).sum. One shuffle for the contribution aggregate per
  superstep; the edges table is persisted and its shuffle exchange
  reused across supersteps. Whole-stage-codegen'd end to end, no
  Python in the loop. ``sources=`` personalizes the teleport vector,
  ``weight=`` splits rank across out-edges by an edge weight column.
* ``pagerank_csr`` — the north-star gather-scatter: ranks join the
  per-block CSR adjacency (one row per *vertex*, not per edge), and an
  Arrow-batched ``applyInPandas`` scatters rank/outdeg over each
  block's numpy adjacency with ``np.add.at`` — a map-side combine that
  shrinks the shuffle from O(edges) rows to O(distinct dst per block).

Dangling vertices (no out-links — very common on the web) surrender
their mass to the teleport vector each superstep; the scalar rides the
superstep's single fused aggregate (L1 delta + next dangling mass,
LMFAO-style: all of a pass's aggregates in one scan), so
``sum(rank) == 1`` holds at every step (asserted in tests).

Convergence: L1 delta < tol (north rule: per-vertex allclose 1e-6);
``tol=0.0`` runs exactly ``max_iter`` supersteps. The loop runs through
:func:`checkpoint.run_supersteps`; with a durable
:class:`CheckpointManager` a killed run resumes from its latest state.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphminer_spark.checkpoint import CheckpointManager, run_supersteps


@dataclass
class PageRankResult:
    ranks: DataFrame  # (id, rank)
    iterations: int
    converged: bool
    deltas: list[float] = field(default_factory=list)


def _vertex_state(
    vertices: DataFrame, out_deg: DataFrame, sources: DataFrame | None
) -> DataFrame:
    """``(id, out_deg[, s])`` hash-partitioned by id: the per-superstep
    rank-update join reuses this layout with NO exchange on the verts
    side and NO broadcast (a 10^9-vertex table can't be broadcast, and
    broadcasting even a small one serializes through the driver every
    superstep). The source indicator ``s`` is folded in ONCE, so
    personalization adds no per-superstep join."""
    verts = vertices.select("id").join(out_deg, "id", "left").select(
        "id", F.coalesce("out_deg", F.lit(0)).alias("out_deg")
    )
    if sources is not None:
        # distinct() so duplicate ids in an arbitrary caller-supplied
        # source set can't fan out vertex rows through the left join
        # (which would inflate |S| and corrupt rank mass)
        sflag = sources.select("id").distinct().withColumn("s", F.lit(1.0))
        verts = verts.join(sflag, "id", "left").select(
            "id", "out_deg", F.coalesce("s", F.lit(0.0)).alias("s")
        )
    return verts.repartition("id").persist()


def pagerank(
    edges: DataFrame,
    vertices: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    checkpointer: CheckpointManager | None = None,
    resume: bool = False,
    init_ranks: DataFrame | None = None,
    sources: DataFrame | None = None,
    weight: str | None = None,
) -> PageRankResult:
    """Directed PageRank over ``edges(src,dst)`` / ``vertices(id)``.

    Returns ranks summing to 1.0. ``resume=True`` continues from the
    checkpointer's latest durable state (north-rule resumability).
    ``init_ranks(id, rank)`` warm-starts on a *changed* graph
    (incremental PR after edge deltas): previous ranks seed existing
    vertices, new vertices get 1/n, the vector renormalizes, and
    degrees re-derive from the current edges — typically a fraction of
    the cold-start iterations to the same tolerance.

    ``sources(id)`` gives Personalized PageRank: teleport and dangling
    mass return to the source set instead of the uniform distribution
    (Page et al. §6; Jeh & Widom WWW'03) — the related-pages /
    seeded-relevance primitive. ``weight`` names an edge weight column:
    each vertex splits its rank across out-edges proportionally to it
    (contrib = rank·w/W_out(src); the Common-Crawl host-rank recipe).
    """
    cols = ["src", "dst"] + ([weight] if weight else [])
    deg = F.count("*") if weight is None else F.sum(weight)
    share = F.col("share") if weight is None else F.col("share") * F.col(weight)
    n = vertices.count()
    verts = _vertex_state(
        vertices,
        edges.groupBy(F.col("src").alias("id")).agg(deg.alias("out_deg")),
        sources,
    )
    # edges partitioned by src and persisted likewise
    e = edges.select(*cols).repartition("src").persist()

    def contribs(state: DataFrame) -> DataFrame:
        return (
            state.filter(F.col("out_deg") > 0)
            .select(
                F.col("id").alias("src"),
                (F.col("rank") / F.col("out_deg")).alias("share"),
            )
            .join(e, "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(share).alias("contrib"))
        )

    try:
        return _iterate(
            verts, n, e.count(), contribs, damping, tol, max_iter,
            checkpointer, resume, init_ranks, "pagerank",
        )
    finally:
        e.unpersist()


def pagerank_csr(
    csr: DataFrame,
    vertices: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    checkpointer: CheckpointManager | None = None,
) -> PageRankResult:
    """Gather-scatter PageRank over CSR blocks (``graph.build.csr_blocks``
    output: ``(block, src, nbrs, out_deg)`` with nbrs = sorted
    out-neighbors).

    Each superstep: ranks join CSR rows on src (one row per vertex),
    then per-block ``applyInPandas`` scatters ``rank/out_deg`` to every
    neighbor with numpy, emitting per-block *partial sums* per dst —
    the map-side combine the pure-join plan lacks. Python touches data
    only through Arrow batches (north-rule: no per-row Python).
    """
    import numpy as np

    n = vertices.count()
    csr = csr.persist()
    csr.count()
    m = csr.agg(F.sum("out_deg")).collect()[0][0] or 0

    def scatter(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pd.DataFrame({"id": np.array([], dtype=np.int64), "contrib": np.array([], dtype=np.float64)})
        nbr_arrays = pdf["nbrs"].to_numpy()
        lens = np.fromiter((len(a) for a in nbr_arrays), dtype=np.int64, count=len(nbr_arrays))
        flat = np.concatenate([np.asarray(a, dtype=np.int64) for a in nbr_arrays])
        # divide by the TRUE degree (out_deg), not the row's array
        # length: hub adjacencies arrive sharded across rows/blocks and
        # the per-dst partials re-aggregate downstream
        share = (pdf["rank"].to_numpy() / pdf["out_deg"].to_numpy()).repeat(lens)
        ids, inv = np.unique(flat, return_inverse=True)
        sums = np.zeros(len(ids), dtype=np.float64)
        np.add.at(sums, inv, share)
        return pd.DataFrame({"id": ids, "contrib": sums})

    def contribs(state: DataFrame) -> DataFrame:
        ranks = state.select("id", "rank")
        joined = csr.join(ranks, csr["src"] == ranks["id"]).select(
            "block", "nbrs", "out_deg", "rank"
        )
        partials = joined.groupBy("block").applyInPandas(
            scatter, schema="id long, contrib double"
        )
        return partials.groupBy("id").agg(F.sum("contrib").alias("contrib"))

    # shard rows of one vertex all carry its true degree
    deg = csr.select(F.col("src").alias("id"), "out_deg").distinct()
    try:
        return _iterate(
            _vertex_state(vertices, deg, None), n, m, contribs, damping,
            tol, max_iter, checkpointer, False, None, "pagerank_csr",
        )
    finally:
        csr.unpersist()


def _iterate(
    verts: DataFrame,
    n: int,
    m: int,
    contribs: Callable[[DataFrame], DataFrame],
    damping: float,
    tol: float,
    max_iter: int,
    checkpointer: CheckpointManager | None,
    resume: bool,
    init_ranks: DataFrame | None,
    algo: str,
) -> PageRankResult:
    """The PageRank superstep over the persisted vertex state
    ``verts(id, out_deg[, s])`` (unpersisted on return); ``contribs``
    maps a rank state to ``(id, contrib)``, the one step the physical
    strategies do differently. ``m`` (edges) gates AQE for the loop."""
    spark = verts.sparkSession
    ckpt = checkpointer or CheckpointManager(None)
    personal = "s" in verts.columns
    if personal:
        n_tele = verts.agg(F.sum("s")).collect()[0][0]
        if not n_tele:
            verts.unpersist()
            raise ValueError("pagerank needs a non-empty source set")
    else:
        verts.count()
        n_tele = n
    carry = verts.columns[1:]  # out_deg[, s]
    dangling_agg = F.coalesce(
        F.sum(F.when(F.col("out_deg") == 0, F.col("rank"))), F.lit(0.0)
    ).alias("dangling")
    delta_agg = F.sum(F.abs(F.col("rank") - F.col("prev_rank"))).alias("delta")

    # one starting state per path (resume / warm start / cold start);
    # its dangling mass comes from the same aggregate as every superstep's
    latest = ckpt.latest(spark) if resume else None
    if latest is not None:
        start_iter, state = latest
        if set(carry) - set(state.columns):  # older checkpoint layout
            state = state.select("id", "rank").join(verts, "id")
    else:
        start_iter = 0
        tele = F.col("s") / n_tele if personal else F.lit(1.0 / n)
        state = verts.select("id", tele.alias("rank"), *carry)
        if init_ranks is not None:
            # incremental warm start on a (possibly changed) graph: seed
            # existing vertices with their previous rank, new vertices
            # with the cold-start rank, renormalize to sum 1; out_deg
            # comes from the CURRENT edge table (stale degrees would
            # mis-split rank — why plain resume= is wrong across deltas)
            state = state.join(
                init_ranks.select("id", F.col("rank").alias("r0")), "id", "left"
            ).select("id", F.coalesce("r0", "rank").alias("rank"), *carry)
            total = float(state.agg(F.sum("rank")).collect()[0][0])
            state = state.withColumn("rank", F.col("rank") / total)

    def step(state: DataFrame, it: int, prev) -> DataFrame:
        # prev_rank rides inside the new state, so the fused aggregate
        # (L1 delta AND the next superstep's dangling mass) is one SCAN
        # of the checkpointed state — no per-superstep state⋈prev join
        # (each cost two exchanges)
        dangling = float(prev["dangling"])
        back = F.lit((1.0 - damping) / n_tele + damping * dangling / n_tele)
        return state.join(
            contribs(state).hint("shuffle_hash"), "id", "left"
        ).select(
            "id",
            ((back * F.col("s") if personal else back)
             + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))).alias("rank"),
            *carry,
            F.col("rank").alias("prev_rank"),
        )

    # resume needs the last superstep durable even off the cadence
    state, _, rows, it, converged = run_supersteps(
        ckpt, algo, state, step, [delta_agg, dangling_agg],
        lambda row, _: row["delta"] < tol, max_iter, m,
        init_aggs=[dangling_agg], start=start_iter, final_save=True,
    )
    verts.unpersist()
    return PageRankResult(
        state.select("id", "rank"), it, converged, [float(r["delta"]) for r in rows[1:]]
    )
