"""Triangle counting as joins over the degree-ordered DAG.

Reference semantics: ``src/triangle/omp_base.cc:5-26`` — for each
vertex u, for each v ∈ N⁺(u), count ``|N⁺(u) ∩ N⁺(v)|`` over the
DAG-oriented graph (``USE_DAG=1`` default, ``src/triangle/main.cc:14``).
The sorted-list merge-intersection becomes a relational join; the DAG
orientation (``build_dag``) guarantees each triangle is enumerated
exactly once as u→v→w with (deg,id)-order u < v < w.

Physical strategy
-----------------
The wedge join (e1 ⋈ e2 on ``e1.dst = e2.src``) dominates: its output
is Σ_v indeg(v)·outdeg(v). Degree-ordering bounds DAG out-degree at
O(√m) for power-law graphs (the same reason the reference defaults to
DAG mode — ``src/triangle/README.md:13-17``), so the wedge join stays
tractable at 100 TB where a raw-orientation join would not. AQE's skew
join splits any residual hot ``e1.dst`` partitions. Counter widths:
global counts use ``sum`` over per-group longs and are exposed as
``decimal(38,0)`` upstream when graphs approach uint64 scale
(``src/count/README.md:51`` reaches 2.4e18).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enumerate_triangles(dag: DataFrame) -> DataFrame:
    """All triangles, one row each: ``(u, v, w)`` in DAG order.

    Two shuffle hash joins; Catalyst pushes the equi-conditions into
    the join keys, nothing is re-shuffled between the wedge join and
    the closing join (both keyed compatibly on the probe side).
    """
    e1 = dag.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    e2 = dag.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    e3 = dag.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    wedges = e1.join(e2, "v")
    return wedges.join(e3, ["u", "w"]).select("u", "v", "w")


def triangle_count(dag: DataFrame) -> DataFrame:
    """Total triangle count → single row ``(n_triangles: long)``."""
    return enumerate_triangles(dag).agg(F.count("*").alias("n_triangles"))


# conf keys + forced values for skew_split; module-level so restore
# logic and tests agree on the exact set
_SKEW_FORCE_CONF = {
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
}


def forced_skew_split(spark):
    """Context manager forcing AQE to split EVERY hot shuffle partition
    (split factor 1, 16 KB threshold) for the duration.

    Measured on the 8M-edge TC protocol graph (BENCH/tc_ab.json,
    round-5): the default skew thresholds leave the hot wedge
    partitions whole at that shuffle size; forcing the split made the
    wedge plan the fastest 4-executor strategy (42.4 s vs 46.6 s) and
    lifted TC scaling efficiency 0.78 → 0.86 (the ≥0.8 north-rule
    bar). NOT the default because at toy scale (sf0.1) the extra
    splits are pure scheduling overhead; wrap large-graph TC/motif
    calls explicitly. Restores prior conf values on exit."""
    from contextlib import contextmanager

    @contextmanager
    def _ctx():
        old = {}
        for k, v in _SKEW_FORCE_CONF.items():
            try:
                old[k] = spark.conf.get(k)
            except Exception:
                old[k] = None
            spark.conf.set(k, v)
        try:
            yield
        finally:
            for k, prev in old.items():
                if prev is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, prev)

    return _ctx()


def sample_edges_deterministic(
    canonical_edges: DataFrame, keep_below: str = "4"
) -> DataFrame:
    """Deterministic DOULION-style edge sample: keep an edge iff the
    md5 of ``"src:dst"`` is lexicographically below ``keep_below``
    (first hex digit < 4 → p = 4/16 = 1/4 by default).

    Hash-based (not RNG) sampling so the sample is (a) reproducible
    across runs/retries — a requirement for resumable 100 TB jobs where
    stages recompute — and (b) expressible identically in ANSI SQL for
    the cross-engine oracle. The filter is a JVM-side expression pushed
    into the scan; no shuffle is added.
    """
    key = F.md5(F.concat_ws(":", F.col("src"), F.col("dst")))
    return canonical_edges.filter(key < F.lit(keep_below))


def triangle_count_sampled(
    canonical_edges: DataFrame, keep_below: str = "4", scale_num: int = 64
) -> DataFrame:
    """Approximate triangle count by edge sampling (DOULION: sample
    each edge with probability p, count triangles on the sample, scale
    by 1/p³). Reference analogue: the approximate-mining workload
    family (``/root/reference/src/approx``); the estimator is standard
    published DOULION (Tsourakakis et al., KDD'09).

    With the default p = 1/4 the sampled wedge join touches ~1/16 of
    the wedges — the knob that turns an infeasible exact count at
    100 TB into a bounded-error estimate. Output: one row
    ``(sampled_triangles: long, est_triangles: long)``.
    """
    from graphminer_spark.graph.build import build_dag

    samp = sample_edges_deterministic(canonical_edges, keep_below)
    cnt = triangle_count(build_dag(samp))
    return cnt.select(
        F.col("n_triangles").alias("sampled_triangles"),
        (F.col("n_triangles") * scale_num).alias("est_triangles"),
    )


def per_edge_triangles(
    canonical_edges: DataFrame,
    dag: DataFrame,
    include_zero: bool = True,
    tri: DataFrame | None = None,
) -> DataFrame:
    """Per-edge triangle counts (the north rule's TC output).

    Each triangle {u,v,w} contributes +1 to each of its three edges.
    Output: ``(src, dst, tri_cnt)`` over canonical (src<dst) edges;
    edges on no triangle appear with 0 when ``include_zero``. Pass a
    (persisted) ``tri`` to share one enumeration across consumers.
    """
    if tri is None:
        tri = enumerate_triangles(dag)
    sides = (
        tri.select(F.col("u").alias("a"), F.col("v").alias("b"))
        .unionByName(tri.select(F.col("v").alias("a"), F.col("w").alias("b")))
        .unionByName(tri.select(F.col("u").alias("a"), F.col("w").alias("b")))
    )
    counts = (
        sides.select(
            F.least("a", "b").alias("src"), F.greatest("a", "b").alias("dst")
        )
        .groupBy("src", "dst")
        .agg(F.count("*").alias("tri_cnt"))
    )
    if not include_zero:
        return counts
    return (
        canonical_edges.join(counts, ["src", "dst"], "left")
        .select(
            "src", "dst", F.coalesce("tri_cnt", F.lit(0)).alias("tri_cnt")
        )
    )


def clique4_count(dag: DataFrame, tri: DataFrame | None = None) -> DataFrame:
    """4-clique count: extend each triangle by a common out-neighbor.

    Reference: ``src/clique/cpu_kernels/clique_base.h`` (k=4) — one more
    bounded intersection per level; here one more join per level.
    Output: single row ``(n_4cliques: long)``.
    """
    if tri is None:
        tri = enumerate_triangles(dag)
    e_u = dag.select(F.col("src").alias("u"), F.col("dst").alias("x"))
    e_v = dag.select(F.col("src").alias("v"), F.col("dst").alias("x"))
    e_w = dag.select(F.col("src").alias("w"), F.col("dst").alias("x"))
    quads = tri.join(e_u, "u").join(e_v, ["v", "x"]).join(e_w, ["w", "x"])
    return quads.agg(F.count("*").alias("n_4cliques"))
