"""Synchronous label propagation with deterministic tie-breaking.

Each superstep every vertex adopts the most frequent label among its
neighbors; ties break to the smallest label (so results are bitwise
identical at any parallelism — the cross-implementation agreement the
reference gets from redundant kernels, ``SURVEY.md §5``). Vertices
with no neighbors keep their label. Initial label = vertex id.

One superstep = join(labels) + two aggregations:
``groupBy(dst, label).count()`` then an argmax via ``max_by`` on the
struct (count, -label) — no window function, so the per-vertex argmax
is a partial-aggregatable single shuffle rather than a sort.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphminer_spark.checkpoint import CheckpointManager, run_supersteps


@dataclass
class LabelPropResult:
    labels: DataFrame  # (id, label)
    iterations: int
    converged: bool
    changed: list[int] = field(default_factory=list)


def label_propagation(
    sym_edges: DataFrame,
    vertices: DataFrame,
    n_iter: int = 10,
    checkpointer: CheckpointManager | None = None,
    until_stable: bool = False,
) -> LabelPropResult:
    """LP over a symmetric edge table. ``until_stable`` stops early when
    no label changes (convergence metric = changed-vertex count)."""
    # partitioned by the JOIN key (src): the per-superstep label fetch
    # then reuses this layout with no exchange on the edge side — the
    # old repartition("dst") layout matched neither the join key nor
    # (alone) the aggregate and re-shuffled the edge table every round
    e = sym_edges.select("src", "dst").repartition("src").persist()
    m = e.count()

    def step(labels: DataFrame, it: int, prev) -> DataFrame:
        # ONE exchange per superstep: the edge⋈labels join reuses
        # both persisted layouts (e by src, labels by id from the
        # previous round's join output), the explicit repartition
        # by dst is the superstep's single shuffle, and BOTH
        # aggregations reuse it — hashpartitioning(dst) satisfies
        # the (dst, label) grouping by the subset rule, and the
        # argmax groups by dst itself. (The old plan shuffled three
        # times: edges to the join key, counts to (dst, label),
        # then counts again to dst.)
        labels = labels.select("id", "label")
        counts = (
            e.join(labels, e["src"] == labels["id"])
            .repartition("dst")
            .groupBy(F.col("dst"), F.col("label"))
            .agg(F.count("*").alias("cnt"))
        )
        # argmax by (cnt, -label): max count, ties → smallest label
        best = counts.groupBy(F.col("dst").alias("id")).agg(
            F.max_by(
                F.col("label"), F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))
            ).alias("new_label")
        )
        new = labels.join(best.hint("shuffle_hash"), "id", "left")
        label = F.coalesce("new_label", F.col("label")).alias("label")
        if until_stable:
            # the prev label rides INSIDE the saved state, so the
            # changed-count is one scan of the checkpoint, not a
            # new⋈old join (which would add two exchanges and recompute
            # the superstep a second time before the save)
            return new.select("id", label, F.col("label").alias("prev_label"))
        return new.select("id", label)

    # the changed-count is the convergence METRIC — in fixed-iteration
    # mode it buys nothing, so it only runs when the caller asked to
    # stop on stability (then ONE action: it materializes the state)
    changed = F.sum(F.when(F.col("label") != F.col("prev_label"), 1).otherwise(0))
    labels, _, rows, it, converged = run_supersteps(
        checkpointer, "lp", vertices.select("id", F.col("id").alias("label")),
        step, [changed.alias("changed")] if until_stable else [],
        (lambda row, _: not row["changed"]) if until_stable else None,
        n_iter, m,
    )
    e.unpersist()
    hist = [int(r["changed"] or 0) for r in rows[1:]] if until_stable else []
    return LabelPropResult(labels.select("id", "label"), it, converged, hist)
