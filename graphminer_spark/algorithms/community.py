"""Community detection and quality metrics.

One-level Louvain (Blondel et al. 2008) local-move phase, made
deterministic and SQL-replayable, plus Newman modularity of a
partition (labels from LP, CC, Louvain, or any ``(id, label)`` table):

    Q = Σ_c [ m_c / m  −  (d_c / 2m)² ]

computed over the symmetric edge view as

    Q = intra / |sym|  −  Σ_c (d_c / |sym|)²

(intra = same-label rows of ``sym``, counted twice like |sym| = 2m,
so the ratio is exact; d_c = Σ deg over the community). This is the
standard convergence/quality metric a label-propagation pipeline
reports per sweep — the reference's LP kernel tracks changed-vertex
counts only; modularity is the publishable analogue.

Scale: two hash joins of labels onto the edge table (same shuffle key
as the LP superstep itself, so co-partitioning is reused), one
groupBy(label) — no step is heavier than one LP iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def modularity(sym_edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Single-row ``(q_s)`` — modularity at 6 decimals.

    ``labels`` is ``(id, label)`` covering every vertex of
    ``sym_edges``.
    """
    e = sym_edges.select("src", "dst")
    la = labels.select(F.col("id").alias("src"), F.col("label").alias("ls"))
    lb = labels.select(F.col("id").alias("dst"), F.col("label").alias("ld"))
    tagged = e.join(la, "src").join(lb, "dst")
    m2_intra = tagged.agg(
        F.count("*").alias("m2"),
        F.sum((F.col("ls") == F.col("ld")).cast("long")).alias("intra"),
    )
    deg = e.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("deg"))
    dc = (
        deg.join(labels, "id")
        .groupBy("label")
        .agg(F.sum("deg").alias("dsum"))
    )
    # Σ_c dsum² is exact in integers; divide once at the end
    sq = dc.agg(F.sum(F.col("dsum") * F.col("dsum")).alias("sumsq"))
    return (
        m2_intra.crossJoin(sq)
        .select(
            F.format_string(
                "%.6f",
                F.col("intra").cast("double") / F.col("m2").cast("double")
                - F.col("sumsq").cast("double")
                / (F.col("m2").cast("double") * F.col("m2").cast("double")),
            ).alias("q_s")
        )
    )


def modularity_body_sql(labels_cte: str) -> str:
    """DuckDB body computing the same Q given a CTE name holding
    ``(id, label)``. Integer numerators (count / Σ dsum²) make the
    only float ops two divisions and one subtraction — engine-exact
    at 6 decimals."""
    return f"""
SELECT printf('%.6f',
  (SELECT sum(CASE WHEN a.label = b.label THEN 1 ELSE 0 END)::DOUBLE
   FROM sym s JOIN {labels_cte} a ON a.id = s.src
   JOIN {labels_cte} b ON b.id = s.dst)
  / (SELECT count(*)::DOUBLE FROM sym)
  - (SELECT sum(dsum * dsum)::DOUBLE FROM (
       SELECT l.label, sum(d.deg) AS dsum FROM deg d
       JOIN {labels_cte} l ON l.id = d.id GROUP BY l.label))
    / ((SELECT count(*)::DOUBLE FROM sym) * (SELECT count(*)::DOUBLE FROM sym))
) AS q_s
""".strip()


def louvain_one_level(
    sym_edges: DataFrame,
    n_rounds: int = 4,
    checkpointer: "CheckpointManager | None" = None,
    weight_col: str | None = None,
) -> DataFrame:
    """One-level Louvain local moves, deterministic → ``(id, c)``.

    ``weight_col`` names a positive integer edge-weight column on
    ``sym_edges`` (both directions of an undirected edge must carry
    the same weight); degrees become strengths (Σw), 2m becomes the
    total weight, and every gain stays integer — the weighted form a
    host-level webgraph rollup needs (link counts as weights). ``None``
    = unweighted (w ≡ 1).

    Blondel et al. 2008's phase-1 sweep visits vertices sequentially —
    inherently serial. Naive synchronous parallelization oscillates:
    two adjacent vertices each move toward the other's *old* community
    and swap forever. The production fix (Grappolo — Lu, Halappanavar
    & Kalyanaraman, ParCo 2015) serializes conflicting moves by vertex
    classes plus a singleton-swap guard; this implementation uses both
    (A/B-measured here: unrestricted synchronous moves made modularity
    DECAY with rounds, 0.107 → 0.053 over 8 rounds at sf0.001, while
    parity-restricted moves climb monotonically 0.053 → 0.131; a
    Luby-commit variant was swap-free but converged ~6× slower):

    * **propose** — each round's mover class (md5-priority parity
      ``(t-1) % 2``, the 2-class analogue of Grappolo's coloring
      classes) computes its gain-max target community over its
      neighbor communities (strict improvement over staying, ties
      prefer staying then the smallest community id);
    * **commit** — every proposal commits EXCEPT singleton→singleton
      moves toward a larger community label (Grappolo's swap
      heuristic): two adjacent same-parity singletons each targeting
      the other are the one stale-view cycle the parity classes can't
      break, so those moves only go label-downhill;
    * **integer gain arithmetic** — moving ``v`` (already removed from
      its community) into ``c`` changes modularity by
      ``k_vc/m − tot_c·k_v/(2m²)``; multiplying by the positive
      constant ``2m²`` gives the integer score
      ``S·k_vc − tot_c·k_v`` (``S = |sym| = 2m``), exact in any
      engine, so the DuckDB oracle replays every round bit-for-bit.
      int64 bound: ``S·k_vc ≤ S·deg_max`` and ``tot_c·deg_v ≤ S·deg_max``
      — safe while ``2m·deg_max < 2^63`` (≈3e9 edges at deg 1e9);
      beyond that promote the two products to decimal(38,0).

    The result is a pure function of the edge table at any
    parallelism. Superstep cost: one join of communities onto ``sym``
    + two aggregations for the propose phase (identical shuffle shape
    to one LP iteration) plus two communities-sized (≤ |V|) dimension
    joins for the guard — at web scale the ``tot``/size tables are
    broadcast-sized relative to the edge table.

    Reference analogue: GraphMiner has no community kernel; this
    extends the vertex-program family (PR/CC/LP, ``src/``) with the
    standard web-graph clustering pass (host-level communities on the
    Common-Crawl link graph are the canonical application).
    """
    from graphminer_spark.algorithms.mis import _prio
    from graphminer_spark.checkpoint import run_supersteps

    w = (
        F.col(weight_col).cast("long")
        if weight_col
        else F.lit(1).cast("long")
    )
    # the mover-class parity is a pure function of src — fold it into
    # the persisted edge table ONCE instead of re-hashing every edge
    # with md5 every round (measured: the per-round _prio evaluation
    # was ~1M md5 calls per round on the bench graph)
    e = (
        sym_edges.select(
            "src", "dst", w.alias("w"), (_prio(F.col("src")) % 2).alias("ps")
        )
        .repartition("dst")
        .persist()
    )
    s_total = e.agg(F.sum("w")).collect()[0][0]  # Σw over sym = 2m
    deg = e.groupBy(F.col("src").alias("id")).agg(
        F.sum("w").cast("long").alias("deg")
    )
    comm = deg.select(
        "id", "deg", F.col("id").alias("c"), (_prio(F.col("id")) % 2).alias("p")
    )

    def step(comm: DataFrame, t: int, prev) -> DataFrame:
        # |V| from the previous round's state: gates whether the
        # per-round community dimension table (tot strength + size, ≤ |V|
        # rows, shrinking with merges) is broadcast into the propose/commit
        # joins or shuffle-joined. Broadcasting removes three exchanges per
        # round; above the cap (a dimension table no executor should hold)
        # the plan falls back to the shuffle join unchanged.
        broadcast_dims = prev["nv"] <= 5_000_000
        par_t = (t - 1) % 2
        # ONE community dimension table per round carrying both the
        # total strength (propose phase) and the member count
        # (commit guard) — the old plan aggregated comm twice
        dims = comm.groupBy("c").agg(
            F.sum("deg").alias("tot"), F.count("*").alias("csz")
        )
        if broadcast_dims:
            dims = F.broadcast(dims)
        tot = dims.select("c", "tot")
        # propose: k_vc over neighbor communities — computed only
        # for THIS round's parity class (the md5 parity is a pure
        # function of the id, so the restriction is a map-side
        # filter, not a join; the oracle computes all vertices and
        # filters at `want`, which is the same result). The current
        # community is always a candidate (kvc may be 0 when no
        # neighbor shares it; the groupBy-sum dedups it).
        nbr_c = comm.select(F.col("id").alias("dst"), F.col("c").alias("nc"))
        kvc = (
            e.join(nbr_c, "dst")
            .filter(F.col("ps") == par_t)
            .groupBy(F.col("src").alias("id"), F.col("nc").alias("c"))
            .agg(F.sum("w").cast("long").alias("kvc"))
        )
        movers_cur = comm.filter(F.col("p") == par_t)
        # repartition by id BEFORE the (id, c) aggregate: the
        # hashpartitioning(id) layout satisfies the (id, c) grouping
        # by the subset rule AND the downstream joins/argmax keyed
        # by id — one exchange where the old plan shuffled by
        # (id, c) and then again by id for the scored join
        cand = (
            kvc.unionByName(
                movers_cur.select(
                    "id", "c", F.lit(0).cast("long").alias("kvc")
                )
            )
            .repartition("id")
            .groupBy("id", "c")
            .agg(F.sum("kvc").alias("kvc"))
        )
        scored = (
            cand.join(
                movers_cur.select(
                    "id", "deg", F.col("c").alias("c_cur")
                ).hint("shuffle_hash"),
                "id",
            )
            .join(tot, "c")
            .select(
                "id",
                "c",
                "c_cur",
                (
                    F.lit(s_total) * F.col("kvc")
                    - (
                        F.col("tot")
                        - F.when(F.col("c") == F.col("c_cur"), F.col("deg"))
                        .otherwise(F.lit(0))
                    )
                    * F.col("deg")
                ).alias("gain"),
                (F.col("c") == F.col("c_cur")).cast("int").alias("stay"),
            )
        )
        # the argmax payload carries (c, stay, c_cur) so `want`
        # needs no re-join against comm
        best = scored.groupBy("id").agg(
            F.max_by(
                F.struct(F.col("c"), F.col("stay"), F.col("c_cur")),
                F.struct(
                    F.col("gain"), F.col("stay"), (-F.col("c")).alias("nc")
                ),
            ).alias("b")
        )
        want = best.filter(F.col("b.stay") == 0).select(
            "id",
            F.col("b.c").alias("c_new"),
            F.col("b.c_cur").alias("c_cur"),
        )
        # commit: every strict-improvement proposal EXCEPT the
        # singleton↔singleton swap (Grappolo's heuristic): two
        # adjacent singletons each targeting the other oscillate
        # forever under synchronous updates, so singleton→singleton
        # moves only go toward the SMALLER community label. The
        # sizes come from the round's shared dims table (broadcast
        # below the nv gate), not a second aggregation of comm.
        csize = dims.select("c", "csz")
        movers = (
            want.join(
                csize.select(F.col("c").alias("c_cur"), F.col("csz").alias("sz_cur")),
                "c_cur",
            )
            .join(
                csize.select(F.col("c").alias("c_new"), F.col("csz").alias("sz_new")),
                "c_new",
            )
            .filter(
                ~(
                    (F.col("sz_cur") == 1)
                    & (F.col("sz_new") == 1)
                    & (F.col("c_new") > F.col("c_cur"))
                )
            )
            .select("id", "c_new")
        )
        return comm.join(movers.hint("shuffle_hash"), "id", "left").select(
            "id", "deg", F.coalesce("c_new", F.col("c")).alias("c"), "p"
        )

    # the vertex count rides every round's materializing aggregate
    nv = [F.count("*").alias("nv")]
    comm, *_ = run_supersteps(
        checkpointer, "louvain", comm, step, nv, None, n_rounds, s_total,
        init_aggs=nv,
    )
    e.unpersist()
    return comm.select("id", "c")


def louvain_sql(n_rounds: int = 4, w_expr: str = "1") -> str:
    """DuckDB body replaying :func:`louvain_one_level` with the rounds
    unrolled (over the shared ``sym`` CTE). ``w_expr`` is a SQL
    expression over (src, dst) for the edge weight — ``"1"`` replays
    the unweighted form. Every quantity is integer (S·k_vc − tot·deg
    gains, md5 parity classes, window tie-break mirroring the max_by
    struct), so agreement is exact."""
    parts = [
        f"lsym AS MATERIALIZED (SELECT src, dst, ({w_expr})::BIGINT AS w FROM sym)",
        "s2 AS (SELECT sum(w) AS s FROM lsym)",
        "c0 AS MATERIALIZED (SELECT src AS id, sum(w)::BIGINT AS deg, src AS c, "
        "(('0x' || substr(md5(src::VARCHAR), 1, 8))::BIGINT % 2) AS p "
        "FROM lsym GROUP BY src)",
    ]
    for t in range(1, n_rounds + 1):
        p = f"c{t - 1}"
        par_t = (t - 1) % 2
        parts.append(
            f"tot{t} AS (SELECT c, sum(deg) AS tot FROM {p} GROUP BY c)"
        )
        parts.append(
            f"kvc{t} AS (SELECT s.src AS id, n.c AS c, sum(s.w)::BIGINT AS kvc "
            f"FROM lsym s JOIN {p} n ON n.id = s.dst GROUP BY s.src, n.c)"
        )
        parts.append(
            f"cand{t} AS (SELECT id, c, sum(kvc) AS kvc FROM ("
            f"SELECT id, c, kvc FROM kvc{t} "
            f"UNION ALL SELECT id, c, 0::BIGINT FROM {p}"
            f") GROUP BY id, c)"
        )
        parts.append(
            f"best{t} AS (SELECT id, c FROM ("
            f"  SELECT q.id, q.c, row_number() OVER (PARTITION BY q.id ORDER BY"
            f"    (SELECT s FROM s2) * q.kvc"
            f"      - (t.tot - CASE WHEN q.c = v.c THEN v.deg ELSE 0 END) * v.deg DESC,"
            f"    CASE WHEN q.c = v.c THEN 1 ELSE 0 END DESC, q.c ASC) AS rn"
            f"  FROM cand{t} q JOIN {p} v ON v.id = q.id JOIN tot{t} t ON t.c = q.c"
            f") WHERE rn = 1)"
        )
        parts.append(
            f"want{t} AS (SELECT b.id, b.c AS c_new, v.c AS c_cur "
            f"FROM best{t} b JOIN {p} v ON v.id = b.id "
            f"WHERE b.c <> v.c AND v.p = {par_t})"
        )
        parts.append(
            f"csz{t} AS (SELECT c, count(*) AS csz FROM {p} GROUP BY c)"
        )
        parts.append(
            f"mov{t} AS (SELECT w.id, w.c_new FROM want{t} w "
            f"JOIN csz{t} su ON su.c = w.c_cur "
            f"JOIN csz{t} sn ON sn.c = w.c_new "
            f"WHERE NOT (su.csz = 1 AND sn.csz = 1 AND w.c_new > w.c_cur))"
        )
        parts.append(
            f"c{t} AS MATERIALIZED (SELECT v.id, v.deg, "
            f"coalesce(mv.c_new, v.c) AS c, v.p "
            f"FROM {p} v LEFT JOIN mov{t} mv ON mv.id = v.id)"
        )
    return (
        f"SELECT id, c FROM (WITH {', '.join(parts)} "
        f"SELECT id, c FROM c{n_rounds}) t"
    )
