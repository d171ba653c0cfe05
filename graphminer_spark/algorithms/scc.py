"""Strongly connected components of a directed graph.

The bow-tie primitive of web-link analysis (Broder et al.,
"Graph structure in the web", WWW'00): the giant SCC plus IN/OUT
tendrils is THE structural decomposition of a crawl's link graph, and
none of the undirected machinery (``connected_components``) sees it.

Algorithm — iterated min-label forward/backward intersection (the
"coloring"/MultiPivot family; Orzan '04, Slota et al. '14):

1. ``F(v)`` = min vertex id that can REACH v: min-label propagation
   to fixpoint along edge direction (the CC hash-min loop, directed);
2. ``B(v)`` = min vertex id v can reach: the same loop on reversed
   edges;
3. every vertex with ``F(v) = B(v) = r`` is mutually reachable with
   ``r``, and the set ``{v : F(v) = B(v) = r}`` is exactly SCC(r) —
   assign those, drop them from the active subgraph, repeat.

Each outer round settles at least every SCC that is the minimum-id
"color root" of its reachability region (many per round in practice);
the expected outer-round count is logarithmic on web-like graphs.
Inner supersteps are the frontier relaxation of :func:`sssp.sssp` with
zero weights — one equi-join + one min-groupBy each — with labels
monotone non-increasing, so a round that changes no label is an exact
fixpoint witness and the check rides the materializing aggregate (ONE
driver action per superstep).

The DuckDB oracle is algorithm-independent: exact SCC ids via
recursive reachability, ``scc(v) = min{r : v→*r ∧ r→*v}`` — it cannot
inherit a bug from the Spark loop.

At 100 TB: forward/backward trimming of outdeg-0/indeg-0 vertices
(the classic FW-BW-Trim step) bolts onto the same loop as a cheap
degree filter per outer round; the substrate here keeps the plain
form, whose shuffle shape is already the scale-proven CC superstep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphminer_spark.algorithms.sssp import _relax
from graphminer_spark.checkpoint import CheckpointManager, run_supersteps


def _min_label_fixpoint(
    dedges: DataFrame,
    verts: DataFrame,
    m: int,
    ckpt: CheckpointManager,
    algo: str,
    lbl: str,
    max_iter: int = 100,
) -> DataFrame:
    """min-label propagation along edge direction to fixpoint →
    ``(id, <lbl>)``, the label = min id with a directed path TO id
    (including id itself): the shared relaxation with w = 0 and every
    vertex seeded at its own id. The driver frees only the states its
    own loop superseded, so the returned fixpoint outlives the NEXT
    fixpoint's loop (fwd is joined with bwd after bwd finishes)."""
    return _relax(
        dedges.select("src", "dst", F.lit(0).cast("long").alias("w")),
        verts.select("id", F.col("id").alias("dist")),
        m, ckpt, max_iter, algo,
    ).withColumnRenamed("dist", lbl)


def strongly_connected_components(
    dedges: DataFrame,
    checkpointer: CheckpointManager | None = None,
    max_outer: int = 20,
) -> DataFrame:
    """``(id, scc)`` — scc = min vertex id of each strongly connected
    component, over all vertices incident to ``dedges(src, dst)``.

    The outer peel is one superstep loop over the vertex table
    ``(id, scc)``, scc null while unassigned, that stops when no vertex
    is unassigned; ``checkpointer`` commits its rounds. The inner
    fixpoints of a round run on their own non-durable manager: the
    forward and backward loops both count from iteration 0, so on one
    durable manager the backward loop's writes would overwrite files a
    forward state still reads. Raises ``RuntimeError`` when
    ``max_outer`` rounds leave vertices unassigned."""
    edges = dedges.select("src", "dst").localCheckpoint(eager=True)
    m = edges.count()
    inner = CheckpointManager(None)

    def peel(state: DataFrame, it: int, _) -> DataFrame:
        nonlocal edges
        verts = state.filter(F.col("scc").isNull()).select("id")
        if it > 1:  # the round's remaining edges, materialized once
            edges = (
                edges.join(verts.withColumnRenamed("id", "src"), "src", "left_semi")
                .join(verts.withColumnRenamed("id", "dst"), "dst", "left_semi")
                .localCheckpoint(eager=True)
            )
        fwd = _min_label_fixpoint(edges, verts, m, inner, f"scc_f{it}", "f")
        rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        bwd = _min_label_fixpoint(rev, verts, m, inner, f"scc_b{it}", "b")
        done = fwd.join(bwd, "id").filter(F.col("f") == F.col("b"))
        return state.join(
            done.select("id", F.col("f").alias("root")), "id", "left"
        ).select("id", F.coalesce("scc", "root").alias("scc"))

    verts = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    unassigned = F.count_if(F.col("scc").isNull()).alias("unassigned")
    state, last, _, rounds, done = run_supersteps(
        checkpointer, "scc", verts.select("id", F.lit(None).cast("long").alias("scc")),
        peel, [unassigned], lambda row, _: row["unassigned"] == 0, max_outer, m,
        init_aggs=[unassigned],
    )
    if not done:
        # exhaustion is not convergence: a partial assignment would
        # silently drop the unassigned vertices from the result
        raise RuntimeError(
            f"strongly_connected_components: max_outer={max_outer} exhausted "
            f"after {rounds} rounds with {last['unassigned']} vertices unassigned"
        )
    return state.filter(F.col("scc").isNotNull())


# md5-parity orientation: deterministic directed view of a canonical
# (src < dst) edge table — the substrate synthesizer for SCC queries
# (random orientation of a sparse undirected graph reproduces the
# bow-tie shape: one giant SCC plus singleton tendrils).
def hash_orient(canonical_edges: DataFrame) -> DataFrame:
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("src").cast("string"),
                    F.col("dst").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    keep = (h % 2) == 0
    return canonical_edges.select(
        F.when(keep, F.col("src")).otherwise(F.col("dst")).alias("src"),
        F.when(keep, F.col("dst")).otherwise(F.col("src")).alias("dst"),
    )


HASH_ORIENT_SQL = (
    "dedges AS MATERIALIZED (SELECT "
    "CASE WHEN (('0x' || substr(md5(src::VARCHAR || ':' || dst::VARCHAR), "
    "1, 8))::BIGINT % 2) = 0 THEN src ELSE dst END AS src, "
    "CASE WHEN (('0x' || substr(md5(src::VARCHAR || ':' || dst::VARCHAR), "
    "1, 8))::BIGINT % 2) = 0 THEN dst ELSE src END AS dst FROM edges)"
)

# exact SCC by recursive reachability — algorithm-independent oracle:
# scc(v) = min{r : v reaches r AND r reaches v} (reach includes self).
# Composers must prepend WITH RECURSIVE and the graph CTEs.
SCC_BODY_SQL = (
    "verts AS (SELECT DISTINCT src AS id FROM "
    "(SELECT src FROM dedges UNION ALL SELECT dst FROM dedges)), "
    "reach(v, r) AS (SELECT id, id FROM verts "
    "UNION SELECT reach.v, d.dst FROM reach JOIN dedges d ON d.src = reach.r) "
    "SELECT a.v AS id, min(a.r) AS scc FROM reach a "
    "JOIN reach b ON b.v = a.r AND b.r = a.v GROUP BY a.v"
)
