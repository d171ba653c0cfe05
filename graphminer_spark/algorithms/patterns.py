"""Generalized clique counting, labeled subgraph matching, and FSM
edge-pattern support.

* ``clique_count(dag, k)`` — the reference's k-clique kernels
  (``src/clique/cpu_kernels/clique_base.h``, k=3..5 ad-hoc; GPU k≤8)
  generalized: level i adds one vertex that is a DAG-out-neighbor of
  every current member — k−2 chained joins, each a bounded
  intersection in relational form.
* ``labeled_triangle_count`` — a miniature of the Query workload
  (``src/query/omp_base.cc``): label-filtered candidates (the CFL/NLF
  filter stage as semi-joins) then the enumeration join.
* ``fsm_edge_support`` — FSM's single-edge seeding phase
  (``src/fsm/omp_base.cc:19-148``): per edge-label-pattern MNI domain
  support = min over pattern positions of distinct mapped vertices
  (``src/fsm/domain_support.h``), frequent iff ≥ minsup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _labeled_sym(sym_edges: DataFrame, labeled_vertices: DataFrame) -> DataFrame:
    """Symmetric edges with endpoint labels → input columns + ``(ls,
    ld)``. The single shared subplan every FSM kernel builds on (plain
    equi-joins — AQE broadcasts the label table when small, never
    forced)."""
    lv = labeled_vertices.select("id", "vlabel")
    return sym_edges.join(
        lv.select(F.col("id").alias("src"), F.col("vlabel").alias("ls")),
        "src",
    ).join(
        lv.select(F.col("id").alias("dst"), F.col("vlabel").alias("ld")),
        "dst",
    )


def clique_count(dag: DataFrame, k: int) -> DataFrame:
    """Count k-cliques (k ≥ 3) over the degree-ordered DAG → single row
    ``(n_kcliques: long)``. Each level's join keys are the full current
    member set, so Catalyst plans hash joins keyed on (member, cand)."""
    assert k >= 3
    clq = dag.select(F.col("src").alias("v1"), F.col("dst").alias("v2"))
    for i in range(3, k + 1):
        new = f"v{i}"
        cand = clq.join(
            dag.select(F.col("src").alias(f"v{i - 1}"), F.col("dst").alias(new)),
            f"v{i - 1}",
        )
        for j in range(1, i - 1):
            ej = dag.select(F.col("src").alias(f"v{j}"), F.col("dst").alias(new))
            cand = cand.join(ej, [f"v{j}", new])
        clq = cand
    return clq.agg(F.count("*").alias(f"n_{k}cliques"))


def labeled_triangle_count(
    dag: DataFrame, labeled_vertices: DataFrame, labels: tuple[int, int, int]
) -> DataFrame:
    """Triangles whose (deg,id)-ordered corners carry ``labels`` →
    ``(n_matches: long)``.

    Pipeline mirrors the reference's filter→enumerate: per-position
    candidate sets are label-filtered first (semi-joins), so the joins
    only see surviving vertices.
    """
    la, lb, lc = labels
    # candidate sets are |V|/n_classes rows — label-filtered but still
    # O(|V|); no forced broadcast (AQE broadcasts when actually small)
    cand = {
        lab: labeled_vertices.filter(F.col("vlabel") == lab).select("id")
        for lab in set(labels)
    }
    e1 = dag.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    e2 = dag.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    e3 = dag.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    tri = (
        e1.join(cand[la].withColumnRenamed("id", "u"), "u", "left_semi")
        .join(cand[lb].withColumnRenamed("id", "v"), "v", "left_semi")
        .join(e2, "v")
        .join(cand[lc].withColumnRenamed("id", "w"), "w", "left_semi")
        .join(e3, ["u", "w"])
    )
    return tri.agg(F.count("*").alias("n_matches"))


def _nlf_counts(lab: DataFrame) -> DataFrame:
    """Per-vertex neighbor-label counts ``(v, l, n)`` from the labeled
    symmetric edge table — O(|E|) in, ≤ min(|V|·L, 2|E|) out. The ONE
    auxiliary every hub-safe MNI kernel below derives its domains from
    (``Graph::build_nlf``, ``src/common/graph.cc:631-643``).

    PRECONDITION (ADVICE r04): the input must be a DEDUPLICATED simple
    graph — one row per directed (src, dst). The kernels below read
    ``n >= 2`` as "two DISTINCT neighbors with this label"; duplicate
    edge rows (a symmetrize over a non-distinct list, or parallel
    edges) would let one neighbor satisfy a two-arm requirement and
    inflate MNI domains. The defensive dedup here makes the invariant
    hold for any input at the cost of one aggregate that the groupBy
    shuffle already pays for (same key prefix, map-side combined)."""
    return (
        lab.select("dst", "ls", "src")
        .distinct()
        .groupBy(F.col("dst").alias("v"), F.col("ls").alias("l"))
        .agg(F.count("*").alias("n"))
    )


def fsm_2edge_support(
    sym_edges: DataFrame,
    labeled_vertices: DataFrame,
    minsup: int,
) -> DataFrame:
    """Frequent 2-edge patterns (labeled wedges) with MNI domain
    support — the first gSpan extension level (``src/fsm/omp_base.cc:
    150-239`` ``dfs_extend``; published configs use k=2 edges,
    ``OSDI-experiments-guide.md:107-122``). Canonical form la ≤ lc
    (``src/fsm/canonical.h``); support = min over position domains
    (``src/fsm/domain_support.h``), ≥ minsup.

    HUB-SAFE: no wedge stream is ever materialized (the join form is
    Σ_b deg(b)² rows — one 10⁶-degree hub makes that 10¹² rows). The
    MNI domains commute into per-vertex neighbor-label counts:

    * center domain of (la, lb, lc) = distinct v with label lb holding
      an la-neighbor and a DISTINCT lc-neighbor — ``cnt[v][la] ≥ 1 ∧
      cnt[v][lc] ≥ 1`` (distinctness free when la ≠ lc), or
      ``cnt[v][la] ≥ 2`` when la = lc;
    * arm domain = distinct x with label ls adjacent to some b with
      label lb whose OTHER arm survives after x occupies its slot:
      ``cnt[b][lo] ≥ 2 if lo = ls else ≥ 1``. Symmetric arms (la = lc)
      share one domain — exactly the orientation-union MNI takes.

    Cost: O(|E|·L) rows total, linear in the edge count at any degree
    distribution.
    """
    lab = _labeled_sym(sym_edges, labeled_vertices).persist()
    cnt = _nlf_counts(lab).persist()

    c1 = cnt.select("v", F.col("l").alias("la"), F.col("n").alias("na"))
    c2 = cnt.select("v", F.col("l").alias("lc"), F.col("n").alias("nc"))
    lv = labeled_vertices.select(
        F.col("id").alias("v"), F.col("vlabel").alias("lb")
    )
    # one row per (v, la, lc) by construction → count(*) ≡ countDistinct
    center_dom = (
        c1.join(c2, "v")
        .filter(
            (F.col("la") < F.col("lc"))
            | ((F.col("la") == F.col("lc")) & (F.col("na") >= 2))
        )
        .join(lv, "v")
        .groupBy("la", "lb", "lc")
        .agg(F.count("*").alias("dc"))
    )

    arm_rows = (
        lab.join(
            cnt.select(
                F.col("v").alias("dst"), F.col("l").alias("lo"), "n"
            ),
            "dst",
        )
        .filter(
            F.col("n")
            >= F.when(F.col("lo") == F.col("ls"), F.lit(2)).otherwise(F.lit(1))
        )
        .select(
            F.least("ls", "lo").alias("la"),
            F.col("ld").alias("lb"),
            F.greatest("ls", "lo").alias("lc"),
            F.col("ls").alias("arm_label"),
            F.col("src").alias("x"),
        )
    )
    arm_dom = arm_rows.groupBy("la", "lb", "lc", "arm_label").agg(
        F.countDistinct("x").alias("d")
    )
    d_a = arm_dom.filter(F.col("arm_label") == F.col("la")).select(
        "la", "lb", "lc", F.col("d").alias("da")
    )
    d_c = arm_dom.filter(F.col("arm_label") == F.col("lc")).select(
        "la", "lb", "lc", F.col("d").alias("dcc")
    )
    support = (
        center_dom.join(d_a, ["la", "lb", "lc"])
        .join(d_c, ["la", "lb", "lc"])
        .select(
            "la", "lb", "lc", F.least("dc", "da", "dcc").alias("support")
        )
    )
    # ≤ n_classes³ pattern rows: materialize eagerly, release the aux
    out = support.filter(F.col("support") >= minsup).localCheckpoint(eager=True)
    lab.unpersist()
    cnt.unpersist()
    return out


def fsm_3edge_support(
    sym_edges: DataFrame,
    labeled_vertices: DataFrame,
    minsup: int,
) -> DataFrame:
    """Frequent 3-edge patterns with MNI domain support — the complete
    gSpan level after wedges (``src/fsm/omp_base.cc:150-239``): every
    connected 3-edge shape is a labeled triangle, 3-star, or 4-path.

    Canonical-form dedup per shape (``src/fsm/canonical.h`` role):
    triangle → labels sorted (Aut = S3); star → leaf labels sorted;
    path → label tuple ≤ its reverse. Symmetric positions share one
    domain — MNI semantics (``src/fsm/domain_support.h``).

    Output: ``(shape, p1, p2, p3, p4, support)`` with p4 = -1 for the
    triangle (3 labeled positions); support = min over position
    domains, ≥ minsup. Star positions: (center, leaf₁..₃); path
    positions: the 4 path vertices in order.

    HUB-SAFE: nothing materializes a star/path embedding stream (the
    join forms are Σ_b deg(b)³ / Σ_edges deg·deg rows — a single
    10⁶-degree hub makes those astronomically large). Instead:

    * TRIANGLE — degree-ordered DAG enumeration (output-bound, the
      standard TC plan) then per-corner label-group domains; symmetric
      label positions share a domain by the automorphism argument.
    * STAR — a center hosts leaf multiset {lx,ly,lz} iff its
      neighbor-label count meets every multiplicity (cnt[v][l] ≥ m(l));
      a leaf domain is the distinct le-labeled NEIGHBORS of hosting
      centers (the center condition already reserves x's slot). Both
      derive from the O(|E|) NLF counts.
    * PATH a−b−c−d — per-ordered-edge arithmetic: with A = candidate
      a-arms of b excluding c, D = candidate d-tails of c excluding b
      (both one subtraction off the NLF counts), b is a mid iff some
      incident edge has A ≥ 1 ∧ D ≥ 1 and not the single-vertex
      collision (A = D = 1 with the unique a = unique d — a common
      neighbor, detected from the triangle enumeration); a is an end
      iff some neighbor b has a surviving (c, d) continuation after
      subtracting the c = a and d = a collision terms (the latter
      again triangle-indexed). All tables are O(|E|·L²) + O(#triangles)
      rows — linear in the edge count at any degree distribution.
    """
    from graphminer_spark.algorithms.triangles import enumerate_triangles
    from graphminer_spark.graph.build import build_dag

    lab = (
        _labeled_sym(sym_edges, labeled_vertices)
        .select("src", "dst", "ls", "ld")
        .persist()
    )
    cnt = _nlf_counts(lab).persist()
    lv = labeled_vertices.select("id", "vlabel")

    # ---------------- shared: geometric triangles (output-bound plan)
    tri = enumerate_triangles(build_dag(sym_edges.filter(F.col("src") < F.col("dst")))).persist()

    # ------------------------------------------------------- triangle
    tl = lambda p: lv.select(  # noqa: E731
        F.col("id").alias(p), F.col("vlabel").alias(f"l{p}")
    )
    tri_lab = tri.join(tl("u"), "u").join(tl("v"), "v").join(tl("w"), "w")
    corners = tri_lab.select(
        F.sort_array(F.array("lu", "lv", "lw")).alias("ls3"),
        F.explode(
            F.array(
                F.struct(F.col("lu").alias("cl"), F.col("u").alias("cv")),
                F.struct(F.col("lv").alias("cl"), F.col("v").alias("cv")),
                F.struct(F.col("lw").alias("cl"), F.col("w").alias("cv")),
            )
        ).alias("c"),
    ).select(
        F.col("ls3")[0].alias("p1"),
        F.col("ls3")[1].alias("p2"),
        F.col("ls3")[2].alias("p3"),
        F.col("c.cl").alias("cl"),
        F.col("c.cv").alias("cv"),
    )
    tri_sup = (
        corners.groupBy("p1", "p2", "p3", "cl")
        .agg(F.countDistinct("cv").alias("d"))
        .groupBy("p1", "p2", "p3")
        .agg(F.min("d").alias("support"))
        .select(
            F.lit("triangle").alias("shape"),
            "p1", "p2", "p3", F.lit(-1).alias("p4"), "support",
        )
    )

    # ----------------------------------------------------------- star
    s1 = cnt.select("v", F.col("l").alias("lx"), F.col("n").alias("nx"))
    s2 = cnt.select("v", F.col("l").alias("ly"), F.col("n").alias("ny"))
    s3 = cnt.select("v", F.col("l").alias("lz"))
    hosts = (
        s1.join(s2, "v").join(s3, "v")
        .filter((F.col("lx") <= F.col("ly")) & (F.col("ly") <= F.col("lz")))
        .filter(
            F.when(
                (F.col("lx") == F.col("ly")) & (F.col("ly") == F.col("lz")),
                F.col("nx") >= 3,
            )
            .when(F.col("lx") == F.col("ly"), F.col("nx") >= 2)
            .when(F.col("ly") == F.col("lz"), F.col("ny") >= 2)
            .otherwise(F.lit(True))
        )
        .join(
            lv.select(F.col("id").alias("v"), F.col("vlabel").alias("lb")),
            "v",
        )
        .select("v", "lb", "lx", "ly", "lz")
        .persist()
    )
    center_dom = hosts.groupBy("lb", "lx", "ly", "lz").agg(
        F.count("*").alias("d")  # one row per (v, lx, ly, lz)
    )
    leaf_dom = (
        hosts.join(
            lab.select(
                F.col("dst").alias("v"),
                F.col("src").alias("x"),
                F.col("ls").alias("le"),
            ),
            "v",
        )
        .filter(
            (F.col("le") == F.col("lx"))
            | (F.col("le") == F.col("ly"))
            | (F.col("le") == F.col("lz"))
        )
        .groupBy("lb", "lx", "ly", "lz", "le")
        .agg(F.countDistinct("x").alias("d"))
        .groupBy("lb", "lx", "ly", "lz")
        .agg(F.min("d").alias("dl"))
    )
    star_sup = (
        center_dom.join(leaf_dom, ["lb", "lx", "ly", "lz"])
        .select(
            F.lit("star").alias("shape"),
            F.col("lb").alias("p1"),
            F.col("lx").alias("p2"),
            F.col("ly").alias("p3"),
            F.col("lz").alias("p4"),
            F.least("d", "dl").alias("support"),
        )
    )

    # ----------------------------------------------------------- path
    # tails: per ordered edge (b, c), D(b,c | ld2) = |{d ∈ N(c)\{b},
    # label ld2}| = cnt[c][ld2] − [label(b)=ld2]; kept where ≥ 1
    tails = (
        lab.select(
            F.col("src").alias("b"), F.col("dst").alias("c"),
            F.col("ls").alias("lb"), F.col("ld").alias("lc"),
        )
        .join(
            cnt.select(
                F.col("v").alias("c"), F.col("l").alias("ld2"),
                F.col("n").alias("ntail"),
            ),
            "c",
        )
        .withColumn(
            "tail",
            F.col("ntail")
            - F.when(F.col("lb") == F.col("ld2"), 1).otherwise(0),
        )
        .filter(F.col("tail") >= 1)
        .drop("ntail")
        .persist()
    )
    m0 = tails.groupBy("b", "lc", "ld2").agg(F.count("*").alias("m0"))

    # common neighbors with label l per unordered edge (p < q), from
    # the triangle enumeration — the collision detector for a = d
    common = (
        tri.select(
            F.explode(
                F.array(
                    F.struct(
                        F.least("u", "v").alias("p"),
                        F.greatest("u", "v").alias("q"),
                        F.col("w").alias("x"),
                    ),
                    F.struct(
                        F.least("u", "w").alias("p"),
                        F.greatest("u", "w").alias("q"),
                        F.col("v").alias("x"),
                    ),
                    F.struct(
                        F.least("v", "w").alias("p"),
                        F.greatest("v", "w").alias("q"),
                        F.col("u").alias("x"),
                    ),
                )
            ).alias("t")
        )
        .select("t.p", "t.q", "t.x")
        .join(tl("x").withColumnRenamed("lx", "lcom"), "x")
        .groupBy("p", "q", "lcom")
        .agg(F.count("*").alias("ncom"))
    )

    def canon_path(df, pos_if_can: int, pos_if_rev: int, vcol: str):
        """Map oriented-tuple rows to canonical pattern key + position."""
        is_can = (F.col("la") < F.col("ld2")) | (
            (F.col("la") == F.col("ld2")) & (F.col("lb") <= F.col("lc"))
        )
        return df.select(
            F.when(is_can, F.col("la")).otherwise(F.col("ld2")).alias("p1"),
            F.when(is_can, F.col("lb")).otherwise(F.col("lc")).alias("p2"),
            F.when(is_can, F.col("lc")).otherwise(F.col("lb")).alias("p3"),
            F.when(is_can, F.col("ld2")).otherwise(F.col("la")).alias("p4"),
            F.when(is_can, F.lit(pos_if_can))
            .otherwise(F.lit(pos_if_rev))
            .alias("pos"),
            F.col(vcol).alias("vtx"),
        )

    # mid positions: per tails row × la, A = cnt[b][la] − [label(c)=la]
    mids = (
        tails.join(
            cnt.select(
                F.col("v").alias("b"), F.col("l").alias("la"),
                F.col("n").alias("narm"),
            ),
            "b",
        )
        .withColumn(
            "arm",
            F.col("narm")
            - F.when(F.col("lc") == F.col("la"), 1).otherwise(0),
        )
        .filter(F.col("arm") >= 1)
        .join(
            common,
            (F.least("b", "c") == F.col("p"))
            & (F.greatest("b", "c") == F.col("q"))
            & (F.col("lcom") == F.col("la")),
            "left",
        )
        .filter(
            ~(
                (F.col("la") == F.col("ld2"))
                & (F.col("arm") == 1)
                & (F.col("tail") == 1)
                & (F.coalesce("ncom", F.lit(0)) >= 1)
            )
        )
    )
    mid_rows = canon_path(mids, 2, 3, "b")

    # end positions: per ordered edge (a, b) × (lc, ld2) with m0 on b,
    # minus the c = a term and the a-is-the-only-d term
    t_corr = (
        tri.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.col(r[0]).alias("a"),
                            F.col(r[1]).alias("b"),
                            F.col(r[2]).alias("c"),
                        )
                        for r in [
                            ("u", "v", "w"), ("u", "w", "v"),
                            ("v", "u", "w"), ("v", "w", "u"),
                            ("w", "u", "v"), ("w", "v", "u"),
                        ]
                    ]
                )
            ).alias("t")
        )
        .select("t.a", "t.b", "t.c")
        .join(tl("a").withColumnRenamed("la", "lba"), "a")
        .join(tl("b").withColumnRenamed("lb", "lbb"), "b")
        .join(tl("c").withColumnRenamed("lc", "lbc"), "c")
        .join(
            cnt.select(
                F.col("v").alias("c"), F.col("l").alias("lba"),
                F.col("n").alias("nct"),
            ),
            ["c", "lba"],
            "left",
        )
        .filter(
            F.coalesce("nct", F.lit(0))
            - F.when(F.col("lbb") == F.col("lba"), 1).otherwise(0)
            == 1
        )
        .groupBy(
            "a", "b", F.col("lbc").alias("lc"), F.col("lba").alias("ld2")
        )
        .agg(F.count("*").alias("tcorr"))
    )
    ends = (
        lab.select(
            F.col("src").alias("a"), F.col("dst").alias("b"),
            F.col("ls").alias("la"), F.col("ld").alias("lb"),
        )
        .join(m0, "b")
        .join(
            cnt.select(
                F.col("v").alias("a"), F.col("l").alias("ld2"),
                F.col("n").alias("nad"),
            ),
            ["a", "ld2"],
            "left",
        )
        .withColumn(
            "corr1",
            F.when(
                (F.col("la") == F.col("lc"))
                & (
                    F.coalesce("nad", F.lit(0))
                    - F.when(F.col("lb") == F.col("ld2"), 1).otherwise(0)
                    >= 1
                ),
                1,
            ).otherwise(0),
        )
        .join(t_corr, ["a", "b", "lc", "ld2"], "left")
        .filter(
            F.col("m0") - F.col("corr1") - F.coalesce("tcorr", F.lit(0))
            >= 1
        )
    )
    end_rows = canon_path(ends, 1, 4, "a")

    path_sup = (
        mid_rows.unionByName(end_rows)
        .groupBy("p1", "p2", "p3", "p4", "pos")
        .agg(F.countDistinct("vtx").alias("d"))
        .groupBy("p1", "p2", "p3", "p4")
        .agg(F.min("d").alias("support"))
        .select(F.lit("path").alias("shape"), "p1", "p2", "p3", "p4", "support")
    )

    out = tri_sup.unionByName(star_sup).unionByName(path_sup)
    # bounded pattern-table result: materialize eagerly, release aux
    out = out.filter(F.col("support") >= minsup).localCheckpoint(eager=True)
    for t in (lab, cnt, tri, hosts, tails):
        t.unpersist()
    return out


def fsm_edge_support(
    sym_edges: DataFrame,
    labeled_vertices: DataFrame,
    minsup: int,
) -> DataFrame:
    """Frequent single-edge patterns by MNI domain support →
    ``(la, lb, support)`` with la ≤ lb, support ≥ minsup.

    MNI support of pattern (la)-(lb) = min(|distinct u mapped to
    position la|, |distinct v mapped to position lb|) over all edge
    embeddings — the anti-monotone support the reference uses
    (``src/fsm/domain_support.h``).
    """
    lab = (
        _labeled_sym(sym_edges, labeled_vertices)
        .select("src", "dst", F.col("ls").alias("la"), F.col("ld").alias("lb"))
        .filter(F.col("la") <= F.col("lb"))
    )
    support = (
        lab.groupBy("la", "lb")
        .agg(
            F.countDistinct("src").alias("d1"),
            F.countDistinct("dst").alias("d2"),
        )
        .select(
            "la",
            "lb",
            F.least("d1", "d2").alias("support"),
        )
    )
    return support.filter(F.col("support") >= minsup)


def fsm_elabel_support(
    sym_eledges: DataFrame,
    labeled_vertices: DataFrame,
    minsup: int,
) -> DataFrame:
    """Frequent EDGE-labeled single-edge patterns ``(la)-[el]-(lb)`` by
    MNI domain support → ``(la, el, lb, support)`` with la ≤ lb
    canonical, support ≥ minsup.

    The reference's FSM operates on edge-labeled DFS codes — each code
    element is a ``(vlabel, elabel, vlabel)`` tuple (``src/fsm/
    omp_base.cc:19-148``; per-edge ``elabel_t``, ``include/graph.h:38``).
    Input ``sym_eledges(src, dst, elabel)`` carries the same elabel in
    both directions (``labels.with_synthetic_elabels``), so when
    la = lb both orientations survive the canonical filter and the
    symmetric positions' domains union — MNI semantics
    (``src/fsm/domain_support.h``). One shuffle (the groupBy); the
    vertex-label joins are plain equi-joins AQE may broadcast.
    """
    lab = (
        _labeled_sym(sym_eledges, labeled_vertices)
        .select(
            "src", "dst", "elabel",
            F.col("ls").alias("la"), F.col("ld").alias("lb"),
        )
        .filter(F.col("la") <= F.col("lb"))
    )
    support = (
        lab.groupBy("la", "elabel", "lb")
        .agg(
            F.countDistinct("src").alias("d1"),
            F.countDistinct("dst").alias("d2"),
        )
        .select(
            "la",
            F.col("elabel").alias("el"),
            "lb",
            F.least("d1", "d2").alias("support"),
        )
    )
    return support.filter(F.col("support") >= minsup)


def fsm_elabel_2edge_support(
    sym_eledges: DataFrame,
    labeled_vertices: DataFrame,
    minsup: int,
) -> DataFrame:
    """Frequent edge-labeled wedges ``(la)-[e1]-(lb)-[e2]-(lc)`` with
    MNI domain support → ``(la, e1, lb, e2, lc, support)``.

    The 2-edge gSpan level over edge-labeled DFS codes (``src/fsm/
    omp_base.cc:150-239`` ``dfs_extend`` with ``elabel_t`` tuples).
    Canonical form: ``(la, e1) ≤ (lc, e2)`` lexicographically — the
    wedge's only automorphism swaps the two arms; symmetric arms share
    one domain, exactly MNI (``src/fsm/domain_support.h``).

    HUB-SAFE like :func:`fsm_2edge_support`: domains derive from the
    edge-labeled NLF counts cnt[v][(el, l)] instead of a materialized
    Σ_b deg(b)² wedge stream — a center needs both (e, l) arm buckets
    (≥ 2 in one bucket when the arms collide), an arm vertex needs its
    b's other bucket to survive after it occupies its own slot.
    O(|E|·L·Le) rows, linear in the edge count.
    """
    lab = _labeled_sym(sym_eledges, labeled_vertices).persist()
    # edge-labeled NLF: (v, el, l, n) — neighbors of v via an el edge
    # carrying vertex label l. Defensive distinct (ADVICE r04, same
    # invariant as _nlf_counts): n >= 2 must mean two DISTINCT
    # neighbors in the bucket — duplicate (src, dst, elabel) rows
    # would otherwise inflate two-arm domains. Parallel edges with
    # DIFFERENT elabels stay distinct rows, as the semantics require.
    cnt = (
        lab.select("dst", "elabel", "ls", "src")
        .distinct()
        .groupBy(
            F.col("dst").alias("v"), F.col("elabel").alias("el"),
            F.col("ls").alias("l"),
        )
        .agg(F.count("*").alias("n"))
        .persist()
    )

    arm_lt = (F.col("la") < F.col("lc")) | (
        (F.col("la") == F.col("lc")) & (F.col("e1") <= F.col("e2"))
    )
    c1 = cnt.select(
        "v", F.col("l").alias("la"), F.col("el").alias("e1"),
        F.col("n").alias("n1"),
    )
    c2 = cnt.select(
        "v", F.col("l").alias("lc"), F.col("el").alias("e2"),
    )
    lv = labeled_vertices.select(
        F.col("id").alias("v"), F.col("vlabel").alias("lb")
    )
    center_dom = (
        c1.join(c2, "v")
        .filter(arm_lt)
        .filter(
            F.when(
                (F.col("la") == F.col("lc")) & (F.col("e1") == F.col("e2")),
                F.col("n1") >= 2,
            ).otherwise(F.lit(True))
        )
        .join(lv, "v")
        .groupBy("la", "e1", "lb", "e2", "lc")
        .agg(F.count("*").alias("dc"))  # unique (v, la, e1, lc, e2) rows
    )

    # arm rows: x —[es]— b with an other-arm bucket (eo, lo) surviving
    # after x takes its own slot
    arm_rows = (
        lab.join(
            cnt.select(
                F.col("v").alias("dst"), F.col("el").alias("eo"),
                F.col("l").alias("lo"), "n",
            ),
            "dst",
        )
        .filter(
            F.col("n")
            >= F.when(
                (F.col("lo") == F.col("ls"))
                & (F.col("eo") == F.col("elabel")),
                F.lit(2),
            ).otherwise(F.lit(1))
        )
    )
    first = (F.col("ls") < F.col("lo")) | (
        (F.col("ls") == F.col("lo")) & (F.col("elabel") <= F.col("eo"))
    )
    arm_dom = (
        arm_rows.select(
            F.when(first, F.col("ls")).otherwise(F.col("lo")).alias("la"),
            F.when(first, F.col("elabel")).otherwise(F.col("eo")).alias("e1"),
            F.col("ld").alias("lb"),
            F.when(first, F.col("eo")).otherwise(F.col("elabel")).alias("e2"),
            F.when(first, F.col("lo")).otherwise(F.col("ls")).alias("lc"),
            F.col("ls").alias("arm_l"),
            F.col("elabel").alias("arm_e"),
            F.col("src").alias("x"),
        )
        .groupBy("la", "e1", "lb", "e2", "lc", "arm_l", "arm_e")
        .agg(F.countDistinct("x").alias("d"))
    )
    key = ["la", "e1", "lb", "e2", "lc"]
    d_a = arm_dom.filter(
        (F.col("arm_l") == F.col("la")) & (F.col("arm_e") == F.col("e1"))
    ).select(*key, F.col("d").alias("da"))
    d_c = arm_dom.filter(
        (F.col("arm_l") == F.col("lc")) & (F.col("arm_e") == F.col("e2"))
    ).select(*key, F.col("d").alias("dcc"))
    support = (
        center_dom.join(d_a, key)
        .join(d_c, key)
        .select(*key, F.least("dc", "da", "dcc").alias("support"))
    )
    out = support.filter(F.col("support") >= minsup).localCheckpoint(eager=True)
    lab.unpersist()
    cnt.unpersist()
    return out
