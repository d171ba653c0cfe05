"""Vertex feature columns and k-hop feature propagation.

The reference's data model declares per-vertex float feature arrays
(``feat_t``, ``include/graph.h:39``, loaded ``src/common/graph.cc:
56-115``) but no mining kernel consumes them — this module supplies
both the column and the one operator a feature column needs at link-
graph scale: k-hop neighborhood aggregation (mean/sum), the building
block of feature smoothing / label-free GNN preprocessing.

Layout: flat ``(id, d, val)`` — one row per (vertex, dimension), what
the joins/aggregations actually consume. At 10^9 vertices × small d
the flat table is d·|V| rows partitioned by id — each hop is ONE
equi-join against the symmetric edge table plus ONE groupBy, both
hub-safe (cost Σ deg(v)·d, linear in |E|).

Propagation arithmetic is integer basis points (``(10000·Σ) div deg``)
so Spark and DuckDB agree bit-exactly; synthetic features are integers
in [0, 1000) derived from the id (deterministic, like
``with_synthetic_labels``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEAT_DIM = 4


def synthetic_features_flat(vertices: DataFrame, dim: int = FEAT_DIM) -> DataFrame:
    """Deterministic integer features → ``(id, d, val)`` with
    ``val = (id·31 + d·17) % 1000`` — the pure-SQL-derivable stand-in
    for loaded ``feat_t`` arrays."""
    return vertices.select(
        "id", F.explode(F.sequence(F.lit(0), F.lit(dim - 1))).alias("d")
    ).select(
        "id",
        "d",
        ((F.col("id") * 31 + F.col("d") * 17) % 1000).alias("val"),
    )


def propagate_features_flat(
    sym_edges: DataFrame, feats: DataFrame, hops: int = 1
) -> DataFrame:
    """k-hop neighbor-mean propagation over the flat layout:
    each hop replaces every vertex's vector with the integer-basis-
    point mean of its neighbors' — ``val' = (10000·Σ_{u∈N(v)} val[u])
    div deg(v)``. One join + one aggregation per hop; no adjacency
    materialization, hub-safe."""
    out = feats
    for _ in range(hops):
        out = (
            sym_edges.select("src", "dst")
            .join(out.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"), "d")
            .agg(
                F.expr("(10000 * sum(val)) div count(*)").alias("val")
            )
        )
    return out
