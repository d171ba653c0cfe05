"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphminer_spark.algorithms.components import (
    bfs_distances,
    connected_components,
)
from graphminer_spark.algorithms.labelprop import label_propagation
from graphminer_spark.algorithms.pagerank import pagerank, pagerank_csr
from graphminer_spark.algorithms.triangles import (
    clique4_count,
    per_edge_triangles,
    triangle_count,
    triangle_count_sampled,
)
from graphminer_spark.algorithms.temporal import (
    incremental_triangles,
    temporal_edges,
    temporal_tri_sql,
    temporal_triangle_count,
)
from graphminer_spark.multimodal import (
    dedup_assets,
    extract_media_meta,
    frame_sample,
    image_pixel_stats,
    synthesize_assets,
    synthesize_png_assets,
)
from graphminer_spark.graph.build import (
    build_dag,
    csr_blocks,
    degree_assortativity,
    degrees,
    symmetrize,
)
from graphminer_spark.graph.tpch_edges import SPARSE_DIVISOR, tpch_edges
from graphminer_spark.olap import (
    order_status_pivot,
    revenue_rollup,
    top_parts_per_supplier,
)
from graphminer_spark.oracle_sql import (
    CC_SQL,
    EXACT_DEDUP_SQL,
    FINGERPRINT_SQL,
    SIMHASH_SQL,
    GOPHER_REP_SQL,
    contamination_sql,
    TOKEN_COUNT_SQL,
    dup_spans_sql,
    emb_neardup_sql,
    graph_query,
    jaccard_all_pairs_sql,
    knn_sql,
    langid_sql,
    linkpred_sql,
    lp_sql,
    modularity_sql,
    lsh_neardup_sql,
    minhash_sql,
    pagerank_sql,
    ppr_sql,
    wpr_sql,
    hits_sql,
    salsa_sql,
    CLUSTERING_SQL,
    quality_sql,
    simhash_neardup_sql,
)
from graphminer_spark.algorithms.kcore import core_numbers_hindex, kcore
from graphminer_spark.algorithms.motifs import pattern_counts
from graphminer_spark.algorithms.fsm_general import fsm_4edge_support
from graphminer_spark.algorithms.patterns import (
    clique_count,
    fsm_2edge_support,
    fsm_3edge_support,
    fsm_edge_support,
    fsm_elabel_2edge_support,
    fsm_elabel_support,
    labeled_triangle_count,
)
from graphminer_spark.graph.labels import (
    label_frequency,
    nlf,
    with_synthetic_elabels,
    with_synthetic_labels,
)
from graphminer_spark.oracle_sql import (
    EV_WINDOWED_SQL,
    clique_sql,
    fsm_2edge_support_sql,
    fsm_3edge_support_sql,
    feat_agg_sql,
    fsm_4edge_support_sql,
    fsm_edge_support_sql,
    fsm_elabel_2edge_support_sql,
    fsm_elabel_support_sql,
    labeled_tri_sql,
    PATTERN_COUNTS_SQL,
    sessionize_sql,
    top_users_sql,
)
from graphminer_spark.algorithms.motifs import motif4_counts
from graphminer_spark.algorithms.subgraph import (
    SGL_PATTERNS,
    PatternSpec,
    count_matches,
    gks_count,
    gks_sql,
    motif_counts_induced,
    motif_counts_sql_body,
    parse_pattern,
    pattern_count_sql_body,
)
from graphminer_spark.graph.bipartite import (
    BIP_DEGREES_SQL,
    BUTTERFLY_SQL,
    bipartite_degrees,
    bipartite_edges,
    butterfly_count,
)
from graphminer_spark.oracle_sql import MOTIF4_SQL
from graphminer_spark.oracle_sql import (
    bfs_sql,
    coreness_hindex_sql,
    ivf_ann_sql,
    semdedup_sql,
    kcore_sql,
    lsh_ann_sql,
)
from graphminer_spark.similarity import (
    embedding_neardup,
    ivf_ann,
    knn_bruteforce,
    lsh_ann,
    semantic_dedup,
)
from graphminer_spark.streaming.events import (
    funnel_counts,
    sessionize,
    top_users_by_value,
    windowed_counts,
)
from graphminer_spark.textops.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_dedup,
    minhash_signatures,
    simhash64,
    simhash_near_pairs,
)
from graphminer_spark.textops.quality import (
    LANG_MARKERS,
    STOPWORDS,
    fingerprint,
    language_id,
    quality_score,
    text_stats,
    token_count,
    top_terms,
)
from graphminer_spark.oracle_sql import text_stats_sql

EMB_DIM = 64
KNN_K, KNN_QUERIES = 3, 20

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: per-edge triangle counts over the edge table
    derived from sf0.001 (north-rule TC output)."""
    edges = tpch_edges(spark, SF0001)
    dag = build_dag(edges)
    return per_edge_triangles(edges, dag)


# ---------------------------------------------------------------- queries


def _q_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tpch_edges(spark, sf_dir)


def _q_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    return degrees(symmetrize(tpch_edges(spark, sf_dir), dedup=False))


def _q_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    deg = _q_degrees(spark, sf_dir)
    return deg.groupBy("deg").agg(F.count("*").alias("n_vertices"))


def _q_dag_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_dag(tpch_edges(spark, sf_dir))


def _q_tc_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    return triangle_count(build_dag(tpch_edges(spark, sf_dir)))


def _q_tc_per_edge(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = tpch_edges(spark, sf_dir)
    return per_edge_triangles(edges, build_dag(edges))


def _q_clique4(spark: SparkSession, sf_dir: str) -> DataFrame:
    return clique4_count(build_dag(tpch_edges(spark, sf_dir)))


def _q_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = tpch_edges(spark, sf_dir).persist()
    # pattern_counts materializes its single-row result eagerly, so the
    # edge persist can be released before returning (no leak across a
    # long all-queries session)
    out = pattern_counts(edges, build_dag(edges))
    edges.unpersist()
    return out


def _q_clique5(spark: SparkSession, sf_dir: str) -> DataFrame:
    return clique_count(build_dag(tpch_edges(spark, sf_dir)), 5)


def _q_clique6(spark: SparkSession, sf_dir: str) -> DataFrame:
    # reference publishes k up to 9 (src/clique/README.md:52-64); the
    # generic k-clique join chain is exercised at k=6 in the gate
    return clique_count(build_dag(tpch_edges(spark, sf_dir)), 6)


def _q_clique7(spark: SparkSession, sf_dir: str) -> DataFrame:
    # k=7 from the reference's published range (src/clique/README.md:
    # 52-64); same generic chain, one more bounded-intersection level
    return clique_count(build_dag(tpch_edges(spark, sf_dir)), 7)


def _q_clique8(spark: SparkSession, sf_dir: str) -> DataFrame:
    return clique_count(build_dag(tpch_edges(spark, sf_dir)), 8)


def _q_clique9(spark: SparkSession, sf_dir: str) -> DataFrame:
    # top of the reference's published k range; the gate graph's max
    # clique is below 7, so k=8/9 certify agreeing exhaustion (the
    # reference's own tables have the same empty tail for most graphs);
    # nonzero chains are pinned on citeseer in pytest
    return clique_count(build_dag(tpch_edges(spark, sf_dir)), 9)


def _q_rev_label_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    # reverse label index (graph.cc:566-588): vertices grouped by
    # label; the sorted id array renders as a joined string for exact
    # cross-engine hashing
    from graphminer_spark.graph.labels import reverse_label_index

    _, _, verts = _graph_vertices(spark, sf_dir)
    out = reverse_label_index(with_synthetic_labels(verts))
    return out.select(
        "vlabel",
        F.array_join(F.col("ids").cast("array<string>"), ",").alias("ids_s"),
    )


def _q_labeled_tri(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, _, verts = _graph_vertices(spark, sf_dir)
    lv = with_synthetic_labels(verts)
    return labeled_triangle_count(build_dag(edges), lv, (0, 1, 2))


def _q_fsm_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, sym, verts = _graph_vertices(spark, sf_dir)
    return fsm_edge_support(sym, with_synthetic_labels(verts), minsup=130)


FSM_EL_MINSUP = 137  # median of the sf0.01 support range (130..143):
# roughly half of the 140 (la, el, lb) patterns survive — a non-trivial
# frequent/infrequent split for the gate


def _q_fsm_elabel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # edge-labeled FSM seeding level: (vlabel)-[elabel]-(vlabel) tuples
    # (the reference's DFS-code element shape, src/fsm/omp_base.cc:19-148)
    _, sym, verts = _graph_vertices(spark, sf_dir)
    return fsm_elabel_support(
        with_synthetic_elabels(sym), with_synthetic_labels(verts),
        minsup=FSM_EL_MINSUP,
    )


FSM_EL2_MINSUP = 150  # sf0.01 wedge supports span 77..188; the median
# keeps ~half of the 4410 edge-labeled wedge patterns


def _q_fsm_elabel_2edge(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = tpch_edges(spark, sf_dir, divisor=SPARSE_DIVISOR)
    sym = symmetrize(edges, dedup=False)
    verts = degrees(sym).select("id")
    return fsm_elabel_2edge_support(
        with_synthetic_elabels(sym), with_synthetic_labels(verts),
        minsup=FSM_EL2_MINSUP,
    )


FSM2_MINSUP = 640  # splits the 196 wedge patterns near the median at sf0.01


def _q_fsm_2edge(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = tpch_edges(spark, sf_dir, divisor=SPARSE_DIVISOR)
    sym = symmetrize(edges, dedup=False)
    verts = degrees(sym).select("id")
    return fsm_2edge_support(
        sym, with_synthetic_labels(verts), minsup=FSM2_MINSUP
    )


FSM3_MINSUP = 520


def _q_fsm_3edge(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = tpch_edges(spark, sf_dir, divisor=SPARSE_DIVISOR)
    sym = symmetrize(edges, dedup=False)
    verts = degrees(sym).select("id")
    return fsm_3edge_support(
        sym, with_synthetic_labels(verts), minsup=FSM3_MINSUP
    )


# adaptive 4-edge minsup: near the support median on the half-sampled
# divisor-1 scramble graph at any scale (edges/1500 ≈ 20 at sf0.01)
FSM4_MINSUP_SQL = "(SELECT greatest(3, count(*) // 1500) FROM edges)"


def _q_fsm_4edge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # general-k gSpan frontier (the depth feature): the uniform
    # low-degree scramble graph bounds the level-4 occurrence count
    # (enumeration cost scales with Σ deg^3 per edge)
    edges = tpch_edges(spark, sf_dir, divisor=1, scramble=True, sample_mod=2)
    sym = symmetrize(edges, dedup=False)
    verts = degrees(sym).select("id")
    # adaptive minsup resolved INSIDE the mine from its existing
    # symmetric-count action (|sym| = 2|E| exactly, dedup=False union),
    # so the input is scanned once — matches the oracle's |E| // 1500
    return fsm_4edge_support(
        sym,
        with_synthetic_labels(verts),
        minsup_fn=lambda m: max(3, m // 3000),
    )


def _q_feat_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # vertex feature column (feat_t, include/graph.h:39) + 2-hop
    # neighbor-mean propagation — one join + one groupBy per hop
    from graphminer_spark.graph.features import (
        propagate_features_flat,
        synthetic_features_flat,
    )

    _, sym, verts = _graph_vertices(spark, sf_dir)
    return propagate_features_flat(
        sym, synthetic_features_flat(verts), hops=2
    )


def _graph_vertices(spark: SparkSession, sf_dir: str):
    edges = tpch_edges(spark, sf_dir)
    sym = symmetrize(edges, dedup=False)
    return edges, sym, degrees(sym).select("id")


def _q_label_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, _, verts = _graph_vertices(spark, sf_dir)
    return label_frequency(with_synthetic_labels(verts))


def _q_nlf(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, sym, verts = _graph_vertices(spark, sf_dir)
    return nlf(sym, with_synthetic_labels(verts))


def _q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the SPARSE graph (mean degree ~11, real spread) so adaptive
    # k = 2/3 of mean degree peels a genuine tail over several rounds
    # — the dense divisor-60 graph is near-regular and peeling is
    # all-or-nothing there. Oracle = kcore_sql's unrolled peeling
    # (same adaptive k in SQL).
    edges = tpch_edges(spark, sf_dir, divisor=SPARSE_DIVISOR)
    sym = symmetrize(edges, dedup=False)
    m = sym.count()
    n = degrees(sym).count()
    k = max(2, (m // n) * 2 // 3)
    return kcore(sym, k=k)


CORENESS_ROUNDS = 40  # oracle unroll; Spark fixpoint round count is
# asserted < this in pytest (monotone iteration ⇒ generous unroll exact)


def _q_coreness(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = tpch_edges(spark, sf_dir, divisor=SPARSE_DIVISOR)
    return core_numbers_hindex(symmetrize(edges, dedup=False))


# k-truss on the divisor-20 graph: the only substrate probed whose
# 4-truss peels over a real cascade (sf0.01: 59,554 → 8,278 → 978 →
# 169 → 138 edges, stable round 5) AND leaves a non-empty truss — the
# sparse graph's 4-truss is empty, the dense one barely peels.
KTRUSS_K, KTRUSS_DIVISOR = 4, 20
KTRUSS_ROUNDS = 12  # oracle unroll; Spark rounds asserted < this in pytest


def _q_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphminer_spark.algorithms.ktruss import ktruss

    edges = tpch_edges(spark, sf_dir, divisor=KTRUSS_DIVISOR)
    return ktruss(symmetrize(edges, dedup=False), k=KTRUSS_K)


HARMONIC_HMAX = 4  # lcm(1..4)=12 scales the integer accumulator


def _q_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    # HyperBall harmonic centrality — per-vertex Σ Δball(h)/h read off
    # the ANF sketch supersteps (same substrate as graph_anf)
    from graphminer_spark.algorithms.anf import harmonic_centrality

    edges = tpch_edges(spark, sf_dir, divisor=SPARSE_DIVISOR, scramble=True)
    return harmonic_centrality(
        symmetrize(edges, dedup=False), h_max=HARMONIC_HMAX
    )


BFS_SOURCE, BFS_ROUNDS = 0, 15

# weighted SSSP: DuckDB probe converges by round 10 at sf0.01 on the
# sparse graph ((n, Σdist) stable); unroll 20 is the generous bound
SSSP_SOURCE, SSSP_ROUNDS = 0, 20

# SCC substrate: md5-parity orientation of the sparse half-sampled
# graph — the probe shows a web-like bow-tie (sf0.01: giant SCC of
# 1227 over 1241 vertices + singleton tendrils); the denser variants
# collapse to one all-vertex SCC
SCC_SAMPLE_MOD = 8


def _q_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphminer_spark.algorithms.scc import (
        hash_orient,
        strongly_connected_components,
    )

    edges = tpch_edges(
        spark, sf_dir, divisor=SPARSE_DIVISOR, sample_mod=SCC_SAMPLE_MOD
    )
    return strongly_connected_components(hash_orient(edges))


def _scc_oracle() -> str:
    from graphminer_spark.algorithms.scc import HASH_ORIENT_SQL, SCC_BODY_SQL
    from graphminer_spark.oracle_sql import graph_ctes

    return (
        f"WITH RECURSIVE "
        f"{graph_ctes(divisor=SPARSE_DIVISOR, sample_mod=SCC_SAMPLE_MOD)}, "
        f"{HASH_ORIENT_SQL}, {SCC_BODY_SQL}"
    )


def _q_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from graphminer_spark.algorithms.sssp import sssp

    edges = tpch_edges(spark, sf_dir, divisor=SPARSE_DIVISOR)
    return sssp(symmetrize(edges, dedup=False), source=SSSP_SOURCE)


def _sssp_oracle() -> str:
    from graphminer_spark.algorithms.sssp import sssp_sql
    from graphminer_spark.oracle_sql import graph_ctes

    return (
        f"WITH {graph_ctes(divisor=SPARSE_DIVISOR)}, "
        f"{sssp_sql(SSSP_SOURCE, SSSP_ROUNDS)}"
    )


def _q_anf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ANF / neighborhood-function curve (FM-sketch bit-OR supersteps)
    # on the sparse scrambled graph — the only substrate here whose
    # diameter exceeds the h range (dense variants saturate at h=2)
    from graphminer_spark.algorithms.anf import neighborhood_function

    edges = tpch_edges(spark, sf_dir, divisor=SPARSE_DIVISOR, scramble=True)
    return neighborhood_function(symmetrize(edges, dedup=False), h_max=5)


def _q_eff_diam(spark: SparkSession, sf_dir: str) -> DataFrame:
    # HyperANF effective diameter from the same sketch curve (h=0
    # anchored interpolation)
    from graphminer_spark.algorithms.anf import effective_diameter

    edges = tpch_edges(spark, sf_dir, divisor=SPARSE_DIVISOR, scramble=True)
    return effective_diameter(symmetrize(edges, dedup=False), h_max=5)


def _q_ball2(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-vertex 2-ball size estimate (ANF per-vertex read-out) — a
    # local-neighborhood-size feature column
    from graphminer_spark.algorithms.anf import ball_sizes

    edges = tpch_edges(spark, sf_dir, divisor=SPARSE_DIVISOR, scramble=True)
    return ball_sizes(symmetrize(edges, dedup=False), h=2)


def _q_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = tpch_edges(spark, sf_dir, divisor=SPARSE_DIVISOR)
    return bfs_distances(symmetrize(edges, dedup=False), source=BFS_SOURCE)


def _q_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, _, verts = _graph_vertices(spark, sf_dir)
    return connected_components(edges, verts)


def _q_cc_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _q_cc(spark, sf_dir)
        .groupBy("component")
        .agg(F.count("*").alias("n_members"))
    )


def _q_lp2(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, sym, verts = _graph_vertices(spark, sf_dir)
    return label_propagation(sym, verts, n_iter=2).labels


def _q_pagerank5(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, _, verts = _graph_vertices(spark, sf_dir)
    res = pagerank(edges, verts, tol=0.0, max_iter=5)
    return res.ranks.select(
        "id", F.format_string("%.6f", F.col("rank")).alias("rank_s")
    )


from graphminer_spark.algorithms.hits import (
    clustering_coefficient,
    hits,
    salsa,
)


def _q_hits5(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, _, verts = _graph_vertices(spark, sf_dir)
    out = hits(edges, verts, n_iter=5)
    return out.select(
        "id",
        F.format_string("%.6f", F.col("hub")).alias("hub_s"),
        F.format_string("%.6f", F.col("auth")).alias("auth_s"),
    )


def _q_salsa5(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SALSA — the degree-normalized (random-walk) HITS variant
    edges, _, verts = _graph_vertices(spark, sf_dir)
    out = salsa(edges, verts, n_iter=5)
    return out.select(
        "id",
        F.format_string("%.6f", F.col("hub")).alias("hub_s"),
        F.format_string("%.6f", F.col("auth")).alias("auth_s"),
    )


def _q_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = tpch_edges(spark, sf_dir)
    return clustering_coefficient(edges, build_dag(edges))


def _q_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    # neighborhood link prediction (Liben-Nowell & Kleinberg): CN /
    # Jaccard / Adamic-Adar / resource-allocation over the open-wedge
    # stream, strongest 500 candidates by (cn DESC, u, v)
    from graphminer_spark.algorithms.linkpred import link_prediction_scores

    edges = tpch_edges(spark, sf_dir, divisor=SPARSE_DIVISOR)
    return link_prediction_scores(symmetrize(edges, dedup=False), top_n=500)


def _q_mis(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hash-priority Luby MIS (deterministic symmetry breaking); the
    # oracle replays the same md5 priorities with the rounds unrolled
    from graphminer_spark.algorithms.mis import maximal_independent_set

    edges = tpch_edges(spark, sf_dir, divisor=SPARSE_DIVISOR)
    mis, _ = maximal_independent_set(symmetrize(edges, dedup=False))
    return mis


def _q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Newman modularity of the 2-sweep LP partition — the publishable
    # community-quality metric for the LP family
    from graphminer_spark.algorithms.community import modularity

    _, sym, verts = _graph_vertices(spark, sf_dir)
    labels = label_propagation(sym, verts, n_iter=2).labels
    return modularity(sym, labels)


def _q_louvain(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one-level Louvain local moves (parity-alternating, integer gain
    # arithmetic); the oracle replays all 4 rounds bit-for-bit
    from graphminer_spark.algorithms.community import louvain_one_level

    edges = tpch_edges(spark, sf_dir, divisor=SPARSE_DIVISOR)
    return louvain_one_level(symmetrize(edges, dedup=False), n_rounds=4)


# subsample for the coloring gate row: JP's round count tracks the
# longest decreasing-priority path (~40 on the mod-3 graph vs ~52
# full), and gate latency is rounds-bound on both engines
COLORING_SAMPLE_MOD = 3


def _q_louvain_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    # weighted one-level Louvain (strengths = Σw, integer gains) over
    # the sssp module's md5-derived edge weights — the host-graph form
    from graphminer_spark.algorithms.community import louvain_one_level
    from graphminer_spark.algorithms.sssp import weighted_edges

    edges = tpch_edges(spark, sf_dir, divisor=SPARSE_DIVISOR)
    wsym = weighted_edges(symmetrize(edges, dedup=False))
    return louvain_one_level(wsym, n_rounds=4, weight_col="w")


def _q_louvain_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Newman modularity OF the Louvain partition — the quality number
    # that justifies the community pass (LP's partition scores
    # negative on this graph; Louvain's must be positive)
    from graphminer_spark.algorithms.community import (
        louvain_one_level,
        modularity,
    )

    edges = tpch_edges(spark, sf_dir, divisor=SPARSE_DIVISOR)
    sym = symmetrize(edges, dedup=False)
    labels = louvain_one_level(sym, n_rounds=4).select(
        "id", F.col("c").alias("label")
    )
    return modularity(sym, labels)


def _q_coloring(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Jones–Plassmann greedy coloring (md5 priorities, relational mex)
    from graphminer_spark.algorithms.coloring import greedy_coloring

    edges = tpch_edges(
        spark, sf_dir, divisor=SPARSE_DIVISOR, sample_mod=COLORING_SAMPLE_MOD
    )
    out, _ = greedy_coloring(symmetrize(edges, dedup=False))
    return out


def _q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DSIR importance weights (target = English docs): exact integer
    # Σ c_d(b)·λ_b over md5-hashed unigram buckets; the ln-derived λ
    # table is floored to basis points once (see textops/dsir.py)
    from graphminer_spark.textops.dsir import (
        dsir_log_ratios,
        dsir_weights,
        hashed_feature_counts,
    )

    docs = _docs(spark, sf_dir)
    target = docs.filter(F.col("lang") == "en")
    lam = dsir_log_ratios(
        hashed_feature_counts(target), hashed_feature_counts(docs)
    )
    return dsir_weights(docs, lam)


def _q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # BPE trainer's level-0 pair statistics (merge iteration 1's input)
    from graphminer_spark.textops.bpe import bpe_pairs_topn

    return bpe_pairs_topn(_docs(spark, sf_dir), n=30)


def _q_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    # seeded Brandes betweenness (Brandes-Pich pivot estimator with
    # md5-deterministic pivots); oracle replays both phases unrolled
    from graphminer_spark.algorithms.betweenness import betweenness_centrality

    edges = tpch_edges(spark, sf_dir, divisor=SPARSE_DIVISOR)
    return betweenness_centrality(symmetrize(edges, dedup=False), seed_mod=2000)


def _q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    sym = symmetrize(tpch_edges(spark, sf_dir), dedup=False)
    return degree_assortativity(sym).select(
        F.format_string("%.6f", F.col("r")).alias("r_s")
    )


def _q_wpr5(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, _, verts = _graph_vertices(spark, sf_dir)
    wedges = edges.select(
        "src", "dst", (1 + (F.col("src") + F.col("dst")) % 5).alias("w")
    )
    res = pagerank(wedges, verts, tol=0.0, max_iter=5, weight="w")
    return res.ranks.select(
        "id", F.format_string("%.6f", F.col("rank")).alias("rank_s")
    )


PPR_SOURCE_MOD = 50  # teleport set: ids divisible by 50 (~2% of verts)


def _q_ppr5(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, _, verts = _graph_vertices(spark, sf_dir)
    sources = verts.filter(F.col("id") % PPR_SOURCE_MOD == 0)
    res = pagerank(edges, verts, tol=0.0, max_iter=5, sources=sources)
    return res.ranks.select(
        "id", F.format_string("%.6f", F.col("rank")).alias("rank_s")
    )


def _q_pagerank5_csr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same 5-superstep PageRank via the CSR-block gather-scatter
    (applyInPandas) path — checked against the same SQL oracle as the
    join-based variant: two independent implementations, one truth."""
    edges, _, verts = _graph_vertices(spark, sf_dir)
    blocks = csr_blocks(edges, num_blocks=16)
    res = pagerank_csr(blocks, verts, tol=0.0, max_iter=5)
    return res.ranks.select(
        "id", F.format_string("%.6f", F.col("rank")).alias("rank_s")
    )


# --------------------------------------------------- SgL named patterns
#
# Each named pattern runs on the graph density its join plan is sized
# for: triangle/codegree-anchored patterns are cheap on the dense
# divisor-60 graph (heavy constraints prune early); wedge-square
# hybrids run on the sparse divisor-6 graph; long paths on the extra-
# sparse divisor-2 graph (path enumeration scales with deg^(k-1)).
SGL_GRAPH = {  # name -> (divisor, scramble)
    "house": (6, False),
    "pentagon": (6, True),
    "dumbbell": (6, True),
    "5path": (1, True),
    "6path": (1, True),
    "hourglass": (15, False),
    "semihouse": (15, False),
    "closedhouse": (30, False),
    "taileddiamond": (15, False),
    "taileddiamond2": (15, False),
}


def _mk_sgl_query(name: str):
    div, scr = SGL_GRAPH[name]

    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        edges = tpch_edges(spark, sf_dir, divisor=div, scramble=scr)
        return count_matches(
            symmetrize(edges, dedup=False), SGL_PATTERNS[name]
        )

    return q


# Arbitrary labeled patterns through the Query pipeline surface
# (pattern parser + candidate label filters + greedy matching order):
# a labeled diamond and a labeled 4-path in the reference's pattern
# file format (src/common/pattern.cc:80-116). Labels break the
# automorphisms, so counting uses the label-aware ordered/|Aut| path.
LABELED_DIAMOND = PatternSpec(
    "labeled_diamond",
    4,
    ((0, 1), (0, 2), (0, 3), (1, 2), (1, 3)),
    vlabels=(0, 1, 2, 3),
)
LABELED_4PATH = parse_pattern("0 4 1 5\n1 5 2 6\n2 6 3 4", name="labeled_4path")


def _q_labeled_diamond(spark, sf_dir):
    edges, sym, verts = _graph_vertices(spark, sf_dir)
    return count_matches(sym, LABELED_DIAMOND, with_synthetic_labels(verts))


def _q_labeled_4path(spark, sf_dir):
    edges, sym, verts = _graph_vertices(spark, sf_dir)
    return count_matches(sym, LABELED_4PATH, with_synthetic_labels(verts))


def _q_gks(spark, sf_dir):
    edges, sym, verts = _graph_vertices(spark, sf_dir)
    return gks_count(sym, with_synthetic_labels(verts), (1, 2, 3))


def _q_bip_degrees(spark, sf_dir):
    return bipartite_degrees(bipartite_edges(spark, sf_dir))


def _q_butterflies(spark, sf_dir):
    return butterfly_count(bipartite_edges(spark, sf_dir))


def _q_motif4(spark, sf_dir):
    edges = tpch_edges(spark, sf_dir).persist()
    out = motif4_counts(edges, build_dag(edges))  # eager single row
    edges.unpersist()
    return out


# 5-motif graph: the scrambled divisor-2 derivation (uniform deg ≈ 4,
# no clustering hubs) — induced 5-vertex enumeration costs scale with
# deg^4 per vertex, and triangle-bearing motifs stay non-trivial
MOTIF5_DIVISOR, MOTIF5_SCRAMBLE = 2, True


def _q_motif5(spark, sf_dir):
    edges = tpch_edges(
        spark, sf_dir, divisor=MOTIF5_DIVISOR, scramble=MOTIF5_SCRAMBLE
    )
    return motif_counts_induced(symmetrize(edges, dedup=False), 5)


def _q_rollup(spark, sf_dir):
    return revenue_rollup(spark.read.parquet(f"{sf_dir}/lineitem.parquet"))


def _q_cube(spark, sf_dir):
    from graphminer_spark.olap import revenue_cube

    return revenue_cube(spark.read.parquet(f"{sf_dir}/lineitem.parquet"))


def _q_top_parts(spark, sf_dir):
    return top_parts_per_supplier(spark.read.parquet(f"{sf_dir}/lineitem.parquet"))


def _q_pivot(spark, sf_dir):
    return order_status_pivot(spark.read.parquet(f"{sf_dir}/orders.parquet"))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _q_exact_dedup(spark, sf_dir):
    return exact_dedup(_docs(spark, sf_dir))


# the "data recipe" mixture: en 50%, de 25%, everything else 10%
STRAT_RATES = {"en": 5000, "de": 2500}


def _q_lm_coverage(spark, sf_dir):
    # train-on-corpus -> broadcast-model -> score-every-doc (the CCNet
    # quality-filter dataflow, exact-integer basis points)
    from graphminer_spark.textops.lm_score import (
        lm_coverage_score,
        train_trigram_model,
    )

    docs = _docs(spark, sf_dir)
    return lm_coverage_score(docs, train_trigram_model(docs, top_k=64))


def _q_stratified_sample(spark, sf_dir):
    # map-side-only deterministic mixture sampling (no shuffle)
    from graphminer_spark.textops.sampling import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir), STRAT_RATES, default_bp=1000
    ).select("doc_id", "lang", "rate_bp")


def _q_per_lang_sample(spark, sf_dir):
    # fixed-size hash-ordered reservoir per language (WindowGroupLimit
    # keeps it a partial top-n per partition at scale)
    from graphminer_spark.textops.sampling import per_stratum_sample

    return per_stratum_sample(_docs(spark, sf_dir), n=10).select(
        "doc_id", "lang", "sample_rank"
    )


def _q_token_count(spark, sf_dir):
    return token_count(_docs(spark, sf_dir))


def _q_gopher_rep(spark, sf_dir):
    # Gopher repetition filters: top-2/3-gram token fraction +
    # repeated-5-gram coverage, integer basis points
    from graphminer_spark.textops.quality import gopher_repetition

    return gopher_repetition(_docs(spark, sf_dir))


def _q_quality_mixture(spark, sf_dir):
    # DoReMi/CCNet-style quality-bucketed mixture: trigram-coverage
    # score -> ntile quartiles -> per-tier deterministic reservoir
    from graphminer_spark.textops.lm_score import (
        lm_coverage_score,
        train_trigram_model,
    )
    from graphminer_spark.textops.sampling import quality_mixture

    docs = _docs(spark, sf_dir)
    cov = lm_coverage_score(docs, train_trigram_model(docs, top_k=64))
    return quality_mixture(
        docs, cov.select("doc_id", F.col("cov_bp").alias("score"))
    )


def _q_url_normalize(spark, sf_dir):
    # RFC 3986 canonicalization over messy synthetic URLs (case, :443,
    # ./ and ../ segments, fragment) built from doc_id; the oracle
    # states the canonical form directly
    from graphminer_spark.sources.extract import normalize_url

    messy = F.concat(
        F.lit("HTTPS://Site"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".Example:443/a/./b/../p"),
        F.col("doc_id").cast("string"),
        F.lit("?q="),
        (F.col("doc_id") % 3).cast("string"),
        F.lit("#frag"),
    )
    return _docs(spark, sf_dir).select(
        "doc_id", normalize_url(messy).alias("norm_url")
    )


def _q_pii_scrub(spark, sf_dir):
    # PII scrub over deterministically-injected email/phone/IPv4 —
    # map-only regexp pass, md5 witness of the scrubbed bytes
    from graphminer_spark.textops.pii import pii_scrub

    messy = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-01"),
            (F.col("doc_id") % 100).cast("string"),
            F.lit(" at 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1 "),
            F.col("text"),
        ).alias("text"),
    )
    return pii_scrub(messy)


def _q_ev_props_json(spark, sf_dir):
    # JSON property extraction (get_json_object — JVM-side path query)
    # rolled up per event type
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def _q_contamination(spark, sf_dir):
    # decontamination vs a deterministic pseudo-eval set (doc_id%50==0);
    # eval gram table is broadcast — the train side never shuffles
    from graphminer_spark.textops.dedup import contamination

    docs = _docs(spark, sf_dir)
    return contamination(
        docs.filter(F.col("doc_id") % 50 != 0),
        docs.filter(F.col("doc_id") % 50 == 0),
        n=4,
    )


def _q_dup_spans(spark, sf_dir):
    # substring-level dedup signal (Lee et al. 2022): per-doc counts of
    # cross-document duplicated 8-gram positions + covered tokens
    from graphminer_spark.textops.dedup import dup_ngram_spans

    return dup_ngram_spans(_docs(spark, sf_dir), n=8)


def _q_pack_layout(spark, sf_dir):
    # GPT-style concat-and-chunk packing layout: per-doc absolute token
    # offset + spanned block range via a two-phase (Blelloch) prefix
    # sum — no global single-task window
    from graphminer_spark.textops.packing import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), seq_len=512)


def _q_quality(spark, sf_dir):
    return quality_score(_docs(spark, sf_dir))


def _q_langid(spark, sf_dir):
    return language_id(_docs(spark, sf_dir))


def _q_fingerprint(spark, sf_dir):
    return fingerprint(_docs(spark, sf_dir))


def _q_text_stats(spark, sf_dir):
    # combined quality/token/langid/fingerprint row — one gate slot
    # certifies all four text-analysis operators
    return text_stats(_docs(spark, sf_dir))


def _q_minhash(spark, sf_dir):
    return minhash_signatures(_docs(spark, sf_dir), num_hashes=16)


def _q_lsh_neardup(spark, sf_dir):
    out = minhash_lsh_dedup(_docs(spark, sf_dir), threshold=0.5)
    return out.select(
        "a", "b", F.format_string("%.6f", F.col("jaccard")).alias("jaccard_s")
    )


def _q_jaccard_pairs(spark, sf_dir):
    out = jaccard_pairs(_docs(spark, sf_dir), threshold=0.3)
    return out.select(
        "a", "b", F.format_string("%.6f", F.col("jaccard")).alias("jaccard_s")
    )


def _q_simhash(spark, sf_dir):
    return simhash64(_docs(spark, sf_dir))


def _q_simhash_neardup(spark, sf_dir):
    return simhash_near_pairs(_docs(spark, sf_dir), max_hamming=20)


def _q_knn(spark, sf_dir):
    embs = _embs(spark, sf_dir)
    q = embs.filter(F.col("vec_id") < KNN_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return knn_bruteforce(embs, q, k=KNN_K)


def _q_lsh_ann(spark, sf_dir):
    return lsh_ann(_embs(spark, sf_dir), dim=EMB_DIM, k=KNN_K, n_planes=4)


def _q_ivf_ann(spark, sf_dir):
    return ivf_ann(_embs(spark, sf_dir), k=KNN_K, n_centroids=16, n_probe=4)


def _q_semdedup(spark, sf_dir):
    # SemDeDup (arXiv:2303.09540) over the trained k-means cells;
    # τ=0.35 picked like emb_neardup's so the synthetic corpus (cosine
    # max ≈ 0.51) yields non-trivial drops — production would use
    # real embeddings and τ≈0.95
    return semantic_dedup(
        _embs(spark, sf_dir), n_clusters=8, tau=0.35, train_iters=2
    )


def _q_emb_neardup(spark, sf_dir):
    # 4 planes / τ=0.25 picked so the demo corpus yields non-trivial
    # output (sf0.01 cosine max ≈ 0.51); production near-dup would use
    # more planes and τ≈0.95
    return embedding_neardup(
        _embs(spark, sf_dir), dim=EMB_DIM, threshold=0.25, n_planes=4
    )


def _q_tc_approx(spark, sf_dir):
    return triangle_count_sampled(tpch_edges(spark, sf_dir))


def _q_path4_colorful(spark, sf_dir):
    # color-coding (FASCIA/Motivo) simple-4-path estimate on the
    # sparse scrambled graph (path enumeration scales with deg^(k-1))
    from graphminer_spark.algorithms.approx import colorful_path_count

    edges = tpch_edges(spark, sf_dir, divisor=6, scramble=True)
    return colorful_path_count(symmetrize(edges, dedup=False), k=4)


CHAIR_TREE = ((0, 1), (1, 2), (2, 3), (1, 4))  # 4-path + pendant, |Aut|=2


def _q_tree_chair_colorful(spark, sf_dir):
    # FASCIA rooted-tree color-set DP on an asymmetric 5-vertex tree
    from graphminer_spark.algorithms.approx import colorful_tree_count

    return colorful_tree_count(
        symmetrize(tpch_edges(spark, sf_dir), dedup=False), CHAIR_TREE
    )


def _tree_chair_colorful_sql() -> str:
    from graphminer_spark.algorithms.approx import colorful_tree_sql

    return graph_query(colorful_tree_sql(CHAIR_TREE))


def _q_path4_colorful_dp(spark, sf_dir):
    # the FASCIA color-set DP form of the same estimate — state
    # bounded by |V|*2^k, so it runs on the DENSE graph where the
    # enumeration path blows up (same count, different plan)
    from graphminer_spark.algorithms.approx import colorful_path_count_dp

    return colorful_path_count_dp(
        symmetrize(tpch_edges(spark, sf_dir), dedup=False), k=4
    )


def _q_path4_colorful_dp_r3(spark, sf_dir):
    # R=3 salted colorings in ONE plan, one exact-integer row per
    # coloring — the variance-reduction evidence for the estimator
    # family (stderr derives from these via approx.estimate_ci)
    from graphminer_spark.algorithms.approx import colorful_path_count_dp

    return colorful_path_count_dp(
        symmetrize(tpch_edges(spark, sf_dir), dedup=False),
        k=4,
        n_colorings=3,
        per_coloring=True,
    )


def _q_rw_sample(spark, sf_dir):
    # deterministic random-walk sampler (KDD'06 family,
    # reference src/approx/README.md): md5-seeded walks with
    # hash-indexed neighbor steps — trajectory rows (walk_id, step, v)
    from graphminer_spark.graph.sampling import random_walk_sample

    edges = tpch_edges(spark, sf_dir, divisor=6, scramble=True)
    return random_walk_sample(
        symmetrize(edges, dedup=False), walk_len=3, seed_mod=20
    )


def _q_ff_sample(spark, sf_dir):
    # deterministic forest-fire sampler (the other KDD'06 sampler):
    # md5-gated burn spread, frontier anti-join per round — burned
    # vertices (v, burn_round)
    from graphminer_spark.graph.sampling import forest_fire_sample

    edges = tpch_edges(spark, sf_dir, divisor=6, scramble=True)
    return forest_fire_sample(
        symmetrize(edges, dedup=False), n_rounds=3, burn_bp=4000, seed_mod=50
    )


def _q_tc_2d(spark, sf_dir):
    # 2D cluster-triple blocks (graph_partition.cc:138-226 analogue);
    # exact, agreement-tested against tc_total's wedge-join plan
    from graphminer_spark.graph.partition2d import triangle_count_2d

    return triangle_count_2d(build_dag(tpch_edges(spark, sf_dir)), nc=4)


TEMPORAL_DELTA = 7200  # δ-window (seconds) for temporal triangles


def _q_temporal_tri(spark, sf_dir):
    return temporal_triangle_count(
        temporal_edges(spark, sf_dir), delta=TEMPORAL_DELTA
    )


def _q_dyn_tri(spark, sf_dir):
    edges = tpch_edges(spark, sf_dir)
    key = F.md5(F.concat_ws(":", "src", "dst"))
    # deterministic split: ~1/8 of edges arrive as the insert batch
    return incremental_triangles(
        edges.filter(key >= "2"), edges.filter(key < "2")
    )


MM_DUP_GROUPS = 100


def _q_mm_meta(spark, sf_dir):
    meta = extract_media_meta(synthesize_assets(_docs(spark, sf_dir)))
    return meta.select(
        "asset_id", "kind", "width", "height", "n_frames", "n_bytes"
    )


def _q_mm_frames(spark, sf_dir):
    return frame_sample(synthesize_assets(_docs(spark, sf_dir)), every_n=2)


def _q_mm_png_stats(spark, sf_dir):
    # REAL codec path: encode every document as an actual grayscale PNG
    # (closed-form gradient pixels), decode it back through the pure-
    # stdlib PNG codec (zlib inflate + all five scanline unfilters),
    # and emit integer pixel statistics the SQL oracle re-derives
    # arithmetically — proving decode-to-pixels, not header plumbing
    return image_pixel_stats(synthesize_png_assets(_docs(spark, sf_dir)))


def _q_mm_jpeg_stats(spark, sf_dir):
    # REAL baseline-JPEG codec path: every document becomes an actual
    # JPEG (SOI/DQT/SOF0/DHT/SOS, Annex-K Huffman) whose 8x8 blocks
    # are constant with even offsets, so the quantized stream is
    # DC-only and the full marker/Huffman/dequant/IDCT decode is
    # bit-exact — the SQL oracle re-derives the stats in closed form
    from graphminer_spark.multimodal import (
        jpeg_pixel_stats,
        synthesize_jpeg_assets,
    )

    return jpeg_pixel_stats(synthesize_jpeg_assets(_docs(spark, sf_dir)))


def _q_mm_gif_stats(spark, sf_dir):
    # REAL animated-GIF codec path: every document becomes an actual
    # GIF89a (global palette, per-frame GCE + image descriptor +
    # variable-width LZW), every 2nd frame is decoded back through the
    # real LZW inflater, and the palette-index stats are exact
    # integers the SQL oracle re-derives in closed form
    from graphminer_spark.multimodal import (
        gif_frame_stats,
        synthesize_gif_assets,
    )

    return gif_frame_stats(synthesize_gif_assets(_docs(spark, sf_dir)))


def _q_mm_wav_stats(spark, sf_dir):
    # REAL audio codec path: encode every document as an actual mono
    # PCM16 WAV (closed-form samples), decode it back through the
    # pure-stdlib RIFF parser, and emit exact-integer sample stats the
    # SQL oracle re-derives arithmetically
    from graphminer_spark.multimodal import (
        audio_sample_stats,
        synthesize_wav_assets,
    )

    return audio_sample_stats(synthesize_wav_assets(_docs(spark, sf_dir)))


def _q_mm_dedup(spark, sf_dir):
    assets = synthesize_assets(_docs(spark, sf_dir), dup_groups=MM_DUP_GROUPS)
    # content_sha256 is dropped for the oracle comparison: the oracle
    # derives the duplicate groups arithmetically, not from bytes
    return dedup_assets(assets).select("keep_id", "n_copies")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _epoch(col: str):
    # parquet ts is TIMESTAMP_NTZ; session tz is UTC, so the round-trip
    # via TIMESTAMP yields UTC epoch seconds — the canonical rendering
    # both engines agree on bit-for-bit (same trick as _q_pagerank5's
    # %.6f for floats)
    return F.col(col).cast("timestamp").cast("long")


def _q_ev_windows(spark, sf_dir):
    out = windowed_counts(_events(spark, sf_dir), minutes=60)
    return out.select(
        _epoch("window_start").alias("window_start_s"),
        "event_type",
        "n",
        "total_value_c",
    )


def _q_ev_sessions(spark, sf_dir):
    out = sessionize(_events(spark, sf_dir), gap_minutes=30)
    return out.select(
        "user_id",
        "session_id",
        "n_events",
        _epoch("start_ts").alias("start_s"),
        _epoch("end_ts").alias("end_s"),
    )


def _q_top_terms(spark, sf_dir):
    return top_terms(_docs(spark, sf_dir), k=3)


def _q_ev_funnel(spark, sf_dir):
    return funnel_counts(_events(spark, sf_dir))


def _q_ev_top_users(spark, sf_dir):
    return top_users_by_value(_events(spark, sf_dir), k=10)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Insertion order is the DRIVER GATE ORDER: the driver's
    CORRECTNESS file records the first 50 entries, so positions 1-50
    certify one representative of EVERY operator family (north-rule
    algorithms and graph core first, then patterns/FSM/Query, then one
    row per LLM-pipeline family). ROTATION: which variant occupies each
    family's slot rotates between rounds so every entry accumulates a
    driver verdict over time. Round 5: 13 entries that sat past the cap
    in r04 rotate back in (tc_approx, tree-chair colorful DP, clique5,
    wpr, nlf, sgl_taileddiamond — never driver-checked — and
    sgl_dumbbell, lsh/simhash near-dup, token-count,
    query_labeled_diamond, ev_sessions, olap_top_parts), the r04
    holders move past the cap (still covered by
    ``tools/check_oracles.py`` locally), and the round's NEW components
    (real-PNG pixel stats, random-walk sampler, R=3 color-coding
    estimator) take in-cap slots from single-edge FSM variants and
    assortativity, whose families keep other in-cap rows."""
    return {
        # --- graph core + north-rule algorithms (§2.2/§2.4) ---
        "graph_edges": _q_edges,
        "graph_degrees": _q_degrees,
        "graph_dag": _q_dag_edges,
        "tc_total": _q_tc_total,
        "tc_per_edge": _q_tc_per_edge,
        "tc_approx": _q_tc_approx,
        "pagerank_5iter": _q_pagerank5,
        # --- PII redaction (new component) ---
        "docs_pii_scrub": _q_pii_scrub,
        "cc_components": _q_cc,
        # --- directed SCC / bow-tie (new component);
        # docs_stratified_sample rotated past the cap (sampling family
        # keeps graph_rw_sample + docs_per_lang_sample) ---
        "graph_scc": _q_scc,
        "lp_labels_2iter": _q_lp2,
        "graph_kcore": _q_kcore,
        "graph_coreness": _q_coreness,
        # --- k-truss peeling (new component) ---
        "graph_ktruss": _q_ktruss,
        # --- ANF sketch supersteps (new component) + HyperBall
        # harmonic centrality (new component) ---
        "graph_anf": _q_anf,
        "graph_harmonic": _q_harmonic,
        # --- SALSA (new component); hits_5iter (driver-green r04)
        # rotated past the cap — link-analysis keeps this slot ---
        "salsa_5iter": _q_salsa5,
        # --- weighted SSSP (new component); temporal_tri_count
        # (driver-green r04) rotated past the cap, dyn_tri_delta keeps
        # the temporal family's slot ---
        "graph_sssp": _q_sssp,
        "dyn_tri_delta": _q_dyn_tri,
        # --- link prediction + Luby MIS + modularity (new components
        # this session); mm_jpeg/mm_gif rotate past the cap (multimodal
        # keeps png+wav in-cap) ---
        "graph_linkpred": _q_linkpred,
        "graph_mis": _q_mis,
        "graph_modularity": _q_modularity,
        # --- one-level Louvain + Jones–Plassmann coloring (new
        # components this session); graph_clustering (driver-green
        # r04, hits family keeps salsa_5iter in-cap) and
        # motif4_counts (driver-green r04, patterns family keeps
        # clique5/tree_chair/path4_dp_r3 in-cap) rotate past the cap ---
        "graph_louvain": _q_louvain,
        "graph_coloring": _q_coloring,
        # --- seeded Brandes betweenness (new component);
        # mm_wav rotates past the cap (multimodal keeps png) ---
        "graph_betweenness": _q_betweenness,
        # --- patterns / motifs / cliques (rotated: 5 ← 4) ---
        "clique5_total": _q_clique5,
        # --- approx family driver slots: general rooted-tree color-set
        # DP + the R=3 variance-reduced estimator (new component) ---
        "tree_chair_colorful": _q_tree_chair_colorful,
        "path4_colorful_dp_r3": _q_path4_colorful_dp_r3,
        # --- sampling sources (new component) ---
        "graph_rw_sample": _q_rw_sample,
        # --- labels / features / FSM / Query pipeline / GKS /
        # bipartite; graph_label_freq (driver-green r04) rotates past
        # the cap — nlf + feat_agg keep the label family's slots ---
        "graph_nlf": _q_nlf,
        "graph_feat_agg": _q_feat_agg,
        "labeled_tri_count": _q_labeled_tri,
        # fsm_2edge / fsm_elabel_2edge rotated past the cap (driver-
        # green r04); 3-edge + general-k 4-edge keep the family's slots
        "fsm_3edge_support": _q_fsm_3edge,
        "fsm_4edge_support": _q_fsm_4edge,
        "query_labeled_diamond": _q_labeled_diamond,
        "gks_3keywords": _q_gks,
        "bip_butterflies": _q_butterflies,
        # --- SgL representatives (rotated: taileddiamond — first-ever
        # driver row — and dumbbell, last checked r02) ---
        "sgl_taileddiamond": _mk_sgl_query("taileddiamond"),
        # --- URL canonicalization (new component; ingest-side) ---
        "docs_url_normalize": _q_url_normalize,
        # --- one row per LLM-pipeline family (rotated variants) ---
        # --- deterministic training-mixture samplers (new) ---
        # --- corpus-trained trigram coverage scoring (new) ---
        "docs_lm_coverage": _q_lm_coverage,
        # --- benchmark decontamination (new component) ---
        "docs_contamination": _q_contamination,
        # --- Gopher within-doc repetition filters (new component) ---
        "docs_gopher_rep": _q_gopher_rep,
        # --- substring-level span dedup (new component) ---
        "docs_dup_spans": _q_dup_spans,
        # --- sequence-packing layout (new component); emb_knn
        # (driver-green r04) rotates past the cap — embeddings keep
        # ivf_ann + semdedup in-cap ---
        "docs_pack_layout": _q_pack_layout,
        # --- BPE tokenizer trainer (new component this session) ---
        "docs_bpe_pairs": _q_bpe_pairs,
        "emb_ivf_ann": _q_ivf_ann,
        # --- SemDeDup semantic dedup over trained cells (new) ---
        "emb_semdedup": _q_semdedup,
        # --- multimodal: REAL PNG decode-to-pixels + REAL WAV
        # decode-to-samples (new components this round) ---
        "mm_png_pixel_stats": _q_mm_png_stats,
        # --- events + OLAP (rotated variants) ---
        # --- JSON property parsing (new component) ---
        "ev_props_json": _q_ev_props_json,
        "olap_top_parts": _q_top_parts,
        # ---------------- past the 50-entry driver cap ----------------
        "graph_louvain_w": _q_louvain_w,
        "graph_louvain_q": _q_louvain_q,
        "docs_dsir_weights": _q_dsir_weights,
        "motif4_counts": _q_motif4,
        "graph_clustering": _q_clustering,
        "graph_label_freq": _q_label_freq,
        "emb_knn": _q_knn,
        "mm_wav_sample_stats": _q_mm_wav_stats,
        "mm_jpeg_pixel_stats": _q_mm_jpeg_stats,
        "mm_gif_frame_stats": _q_mm_gif_stats,
        "tc_total_2d": _q_tc_2d,
        "motif5_counts": _q_motif5,
        "pagerank_5iter_csr": _q_pagerank5_csr,
        "pattern_counts": _q_patterns,
        "graph_ff_sample": _q_ff_sample,
        "ppr_5iter": _q_ppr5,
        "graph_assortativity": _q_assortativity,
        "clique4_total": _q_clique4,
        "path4_colorful_dp": _q_path4_colorful_dp,
        "path4_colorful": _q_path4_colorful,
        "clique8_total": _q_clique8,
        "graph_degree_hist": _q_degree_hist,
        "wpr_5iter": _q_wpr5,
        "ev_sessions": _q_ev_sessions,
        "graph_bfs_dist": _q_bfs,
        "hits_5iter": _q_hits5,
        "temporal_tri_count": _q_temporal_tri,
        "sgl_dumbbell": _mk_sgl_query("dumbbell"),
        "graph_eff_diam": _q_eff_diam,
        "graph_ball2": _q_ball2,
        "graph_rev_label_index": _q_rev_label_index,
        "cc_sizes": _q_cc_sizes,
        "fsm_edge_support": _q_fsm_edges,
        "fsm_elabel_support": _q_fsm_elabel,
        "fsm_2edge_support": _q_fsm_2edge,
        "fsm_elabel_2edge_support": _q_fsm_elabel_2edge,
        **{
            f"sgl_{n}": _mk_sgl_query(n)
            for n in sorted(SGL_GRAPH)
            if n not in ("taileddiamond", "dumbbell")
        },
        "clique6_total": _q_clique6,
        "clique7_total": _q_clique7,
        "clique9_total": _q_clique9,
        "query_labeled_4path": _q_labeled_4path,
        "bip_degrees": _q_bip_degrees,
        "docs_minhash_sigs": _q_minhash,
        "docs_token_count": _q_token_count,
        "docs_quality_mixture": _q_quality_mixture,
        "docs_lsh_neardup": _q_lsh_neardup,
        "docs_simhash": _q_simhash,
        "docs_simhash_neardup": _q_simhash_neardup,
        "docs_quality": _q_quality,
        "docs_text_stats": _q_text_stats,
        "docs_langid": _q_langid,
        "docs_fingerprint": _q_fingerprint,
        "docs_top_terms": _q_top_terms,
        "emb_lsh_ann": _q_lsh_ann,
        "mm_media_meta": _q_mm_meta,
        "docs_jaccard_pairs": _q_jaccard_pairs,
        "emb_neardup": _q_emb_neardup,
        "docs_exact_dedup": _q_exact_dedup,
        "docs_per_lang_sample": _q_per_lang_sample,
        "docs_stratified_sample": _q_stratified_sample,
        "mm_frame_sample": _q_mm_frames,
        "mm_asset_dedup": _q_mm_dedup,
        "ev_windowed_counts": _q_ev_windows,
        "ev_top_users": _q_ev_top_users,
        "ev_funnel": _q_ev_funnel,
        "olap_revenue_rollup": _q_rollup,
        "olap_revenue_cube": _q_cube,
        "olap_status_pivot": _q_pivot,
    }


def _pii_oracle() -> str:
    from graphminer_spark.textops.pii import pii_scrub_sql

    messy = (
        "'contact u' || doc_id::VARCHAR || '@example.com or 555-01' || "
        "(doc_id % 100)::VARCHAR || ' at 10.0.' || "
        "(doc_id % 256)::VARCHAR || '.1 ' || text"
    )
    return pii_scrub_sql(messy)


def _ktruss_oracle() -> str:
    from graphminer_spark.algorithms.ktruss import ktruss_sql
    from graphminer_spark.oracle_sql import graph_ctes

    return (
        f"WITH {graph_ctes(divisor=KTRUSS_DIVISOR)}, "
        f"{ktruss_sql(KTRUSS_K, KTRUSS_ROUNDS)}"
    )


def _harmonic_oracle() -> str:
    from graphminer_spark.algorithms.anf import harmonic_sql
    from graphminer_spark.oracle_sql import graph_ctes

    return (
        f"WITH {graph_ctes(divisor=SPARSE_DIVISOR, scramble=True)}, "
        f"{harmonic_sql(HARMONIC_HMAX)}"
    )


def _anf_oracle() -> str:
    from graphminer_spark.algorithms.anf import anf_sql
    from graphminer_spark.oracle_sql import graph_ctes

    return (
        f"WITH {graph_ctes(divisor=SPARSE_DIVISOR, scramble=True)}, "
        f"{anf_sql(5)}"
    )


def _eff_diam_oracle() -> str:
    from graphminer_spark.algorithms.anf import eff_diam_sql
    from graphminer_spark.oracle_sql import graph_ctes

    return (
        f"WITH {graph_ctes(divisor=SPARSE_DIVISOR, scramble=True)}, "
        f"{eff_diam_sql(5)}"
    )


def _ball2_oracle() -> str:
    from graphminer_spark.algorithms.anf import ball_sizes_sql
    from graphminer_spark.oracle_sql import graph_ctes

    return (
        f"WITH {graph_ctes(divisor=SPARSE_DIVISOR, scramble=True)}, "
        f"{ball_sizes_sql(2)}"
    )


def _path4_colorful_sql() -> str:
    from graphminer_spark.algorithms.approx import colorful_path_sql

    return graph_query(colorful_path_sql(4), divisor=6, scramble=True)


def _path4_colorful_dp_sql() -> str:
    from graphminer_spark.algorithms.approx import colorful_path_dp_sql

    return graph_query(colorful_path_dp_sql(4))


def _path4_colorful_dp_r3_sql() -> str:
    from graphminer_spark.algorithms.approx import colorful_path_dp_sql

    return graph_query(
        colorful_path_dp_sql(4, n_colorings=3, per_coloring=True)
    )


def _mis_oracle() -> str:
    # 15-round unroll covers the Spark loop's observed round count at
    # sf0.01 with margin (monotone elimination: extra rounds are
    # identity; tests/test_round5b.py asserts rounds < 15)
    from graphminer_spark.algorithms.mis import mis_sql

    return graph_query(mis_sql(n_rounds=15), divisor=SPARSE_DIVISOR)


def _pack_layout_sql() -> str:
    from graphminer_spark.textops.packing import pack_sequences_sql

    return pack_sequences_sql(512)


def _louvain_oracle() -> str:
    # 4 fixed rounds, replayed exactly (integer gains + md5 parity)
    from graphminer_spark.algorithms.community import louvain_sql

    return graph_query(louvain_sql(4), divisor=SPARSE_DIVISOR)


def _louvain_w_oracle() -> str:
    # weighted form: same 4-round replay with the sssp md5 weights
    from graphminer_spark.algorithms.community import louvain_sql
    from graphminer_spark.algorithms.sssp import _W_SQL

    return graph_query(louvain_sql(4, w_expr=_W_SQL), divisor=SPARSE_DIVISOR)


def _louvain_q_oracle() -> str:
    # modularity of the replayed Louvain partition: the unrolled
    # 4-round body nests as a labels CTE under the shared sym/deg CTEs
    from graphminer_spark.algorithms.community import (
        louvain_sql,
        modularity_body_sql,
    )

    body = (
        f"SELECT q_s FROM (WITH lab AS MATERIALIZED ("
        f"SELECT id, c AS label FROM ({louvain_sql(4)}) lvt) "
        f"{modularity_body_sql('lab')}) z"
    )
    return graph_query(body, divisor=SPARSE_DIVISOR)


def _coloring_oracle() -> str:
    # 46-round unroll covers the Spark loop's observed 40 rounds on the
    # mod-3 graph with margin (monotone elimination: once every vertex
    # is colored, extra rounds are identity; pytest asserts the Spark
    # round count stays under the unroll)
    from graphminer_spark.algorithms.coloring import coloring_sql

    return graph_query(
        coloring_sql(46), divisor=SPARSE_DIVISOR, sample_mod=COLORING_SAMPLE_MOD
    )


def _bpe_pairs_oracle() -> str:
    from graphminer_spark.textops.bpe import bpe_pairs_sql

    return bpe_pairs_sql(30)


def _dsir_weights_oracle() -> str:
    from graphminer_spark.textops.dsir import dsir_weights_sql

    return dsir_weights_sql("lang = 'en'")


def _betweenness_oracle() -> str:
    # 15-level unroll covers the sf0.01 eccentricity of every md5
    # pivot with margin (empty levels pass zeros through; pytest
    # asserts the Spark loop's level count < 15)
    from graphminer_spark.algorithms.betweenness import betweenness_sql

    return graph_query(betweenness_sql(2000, 15), divisor=SPARSE_DIVISOR)


def _rw_sample_sql() -> str:
    from graphminer_spark.graph.sampling import random_walk_sql

    return graph_query(
        random_walk_sql(walk_len=3, seed_mod=20), divisor=6, scramble=True
    )


def _ff_sample_sql() -> str:
    from graphminer_spark.graph.sampling import forest_fire_sql

    return graph_query(
        forest_fire_sql(n_rounds=3, burn_bp=4000, seed_mod=50),
        divisor=6,
        scramble=True,
    )


def oracle_sql() -> dict[str, str]:
    return {
        "graph_edges": graph_query("SELECT src, dst FROM edges"),
        "graph_degrees": graph_query("SELECT id, deg FROM deg"),
        "graph_degree_hist": graph_query(
            "SELECT deg, count(*) AS n_vertices FROM deg GROUP BY deg"
        ),
        "graph_dag": graph_query("SELECT src, dst FROM dag"),
        "tc_total": graph_query(
            "SELECT count(*) AS n_triangles FROM tri", with_tri=True
        ),
        "tc_per_edge": graph_query(
            """
            SELECT e.src, e.dst, coalesce(t.tri_cnt, 0) AS tri_cnt
            FROM edges e
            LEFT JOIN (
              SELECT least(a, b) AS src, greatest(a, b) AS dst,
                     count(*) AS tri_cnt
              FROM (
                SELECT u AS a, v AS b FROM tri
                UNION ALL SELECT v AS a, w AS b FROM tri
                UNION ALL SELECT u AS a, w AS b FROM tri
              )
              GROUP BY 1, 2
            ) t ON t.src = e.src AND t.dst = e.dst
            """,
            with_tri=True,
        ),
        "tc_total_2d": graph_query(
            "SELECT count(*) AS n_triangles FROM tri", with_tri=True
        ),
        "tc_approx": graph_query(
            """
            SELECT count(*) AS sampled_triangles,
                   count(*) * 64 AS est_triangles
            FROM (SELECT src, dst FROM edges
                  WHERE md5(src::VARCHAR || ':' || dst::VARCHAR) < '4') s1
            JOIN (SELECT src, dst FROM edges
                  WHERE md5(src::VARCHAR || ':' || dst::VARCHAR) < '4') s2
              ON s2.src = s1.src AND s2.dst > s1.dst
            JOIN (SELECT src, dst FROM edges
                  WHERE md5(src::VARCHAR || ':' || dst::VARCHAR) < '4') s3
              ON s3.src = s1.dst AND s3.dst = s2.dst
            """
        ),
        "path4_colorful": _path4_colorful_sql(),
        "path4_colorful_dp": _path4_colorful_dp_sql(),
        "path4_colorful_dp_r3": _path4_colorful_dp_r3_sql(),
        "graph_rw_sample": _rw_sample_sql(),
        "graph_ff_sample": _ff_sample_sql(),
        "tree_chair_colorful": _tree_chair_colorful_sql(),
        "temporal_tri_count": temporal_tri_sql(TEMPORAL_DELTA),
        "dyn_tri_delta": graph_query(
            """
            SELECT (SELECT count(*) FROM edges
                    WHERE md5(src::VARCHAR || ':' || dst::VARCHAR) < '2')
                     AS n_delta_edges,
                   count(*) AS n_new_triangles
            FROM (
              SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
              FROM edges e1
              JOIN edges e2 ON e2.src = e1.src AND e2.dst > e1.dst
              JOIN edges e3 ON e3.src = e1.dst AND e3.dst = e2.dst
            )
            WHERE md5(a::VARCHAR || ':' || b::VARCHAR) < '2'
               OR md5(a::VARCHAR || ':' || c::VARCHAR) < '2'
               OR md5(b::VARCHAR || ':' || c::VARCHAR) < '2'
            """
        ),
        "mm_png_pixel_stats": """
            WITH p AS (SELECT doc_id AS asset_id, 8 + doc_id % 9 AS width,
                              8 + doc_id % 7 AS height FROM documents),
            px AS (
              SELECT asset_id, width, height,
                     (31*r.g + 17*c.g + asset_id) % 256 AS v
              FROM p, LATERAL (SELECT unnest(range(0, height)) AS g) r,
                      LATERAL (SELECT unnest(range(0, width)) AS g) c
            )
            SELECT asset_id, width::INT AS width, height::INT AS height,
                   ((sum(v) * 10000) // (255 * width * height))::INT
                     AS px_mean_bp,
                   sum(CASE WHEN v > 0 THEN 1 ELSE 0 END)::BIGINT
                     AS px_nonzero
            FROM px GROUP BY asset_id, width, height
        """,
        "mm_gif_frame_stats": """
            WITH p AS (SELECT doc_id AS asset_id, 8 + doc_id % 5 AS w,
                              8 + doc_id % 3 AS h, 2 + doc_id % 4 AS nf
                       FROM documents),
            f AS (SELECT asset_id, w, h, fr.g AS frame_idx
                  FROM p, LATERAL (SELECT unnest(range(0, nf)) AS g) fr
                  WHERE fr.g % 2 = 0),
            s AS (SELECT asset_id, frame_idx, w, h,
                         (37 * asset_id + 11 * frame_idx + 5 * i.g) % 256
                           AS v
                  FROM f, LATERAL (SELECT unnest(range(0, w * h)) AS g) i)
            SELECT asset_id, frame_idx::INT AS frame_idx,
                   w::INT AS width, h::INT AS height,
                   sum(v)::BIGINT AS idx_sum, max(v)::INT AS idx_max
            FROM s GROUP BY asset_id, frame_idx, w, h
        """,
        "mm_jpeg_pixel_stats": """
            WITH p AS (SELECT doc_id AS asset_id,
                              8 * (2 + doc_id % 3) AS w,
                              8 * (2 + doc_id % 2) AS h FROM documents),
            b AS (
              SELECT asset_id, w, h,
                     128 + 2 * (((37 * asset_id + 11 * i.g) % 64) - 32) AS v
              FROM p, LATERAL (SELECT unnest(range(0, (w // 8) * (h // 8)))
                               AS g) i
            )
            SELECT asset_id, w::INT AS width, h::INT AS height,
                   (sum(v) * 64)::BIGINT AS px_sum,
                   min(v)::INT AS px_min, max(v)::INT AS px_max
            FROM b GROUP BY asset_id, w, h
        """,
        "mm_wav_sample_stats": """
            WITH p AS (SELECT doc_id AS asset_id,
                              8000 + (doc_id % 3) * 4000 AS sample_rate,
                              64 + doc_id % 41 AS n FROM documents),
            s AS (
              SELECT asset_id, sample_rate, n,
                     ((37 * asset_id + 11 * i.g) % 4001) - 2000 AS v
              FROM p, LATERAL (SELECT unnest(range(0, n)) AS g) i
            )
            SELECT asset_id, sample_rate::INT AS sample_rate,
                   n::INT AS n_samples,
                   sum(abs(v))::BIGINT AS sum_abs,
                   max(abs(v))::INT AS max_abs,
                   sum(CASE WHEN v > 0 THEN 1 ELSE 0 END)::BIGINT
                     AS n_positive
            FROM s GROUP BY asset_id, sample_rate, n
        """,
        "mm_media_meta": """
            WITH p AS (
              SELECT doc_id AS asset_id, doc_id % 3 AS k,
                     8 + doc_id % 25 AS width, 8 + doc_id % 17 AS height,
                     CASE WHEN doc_id % 3 = 2 THEN 1 + doc_id % 30 ELSE 1 END
                       AS n_frames
              FROM documents)
            SELECT asset_id,
                   CASE k WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                          ELSE 'video' END AS kind,
                   width, height, n_frames,
                   11 + 32 * (((width * height * n_frames) // 32) % 64 + 1)
                     AS n_bytes
            FROM p
        """,
        "mm_frame_sample": """
            SELECT asset_id, UNNEST(range(0, nf, 2)) AS frame_idx
            FROM (SELECT doc_id AS asset_id, 1 + doc_id % 30 AS nf
                  FROM documents WHERE doc_id % 3 = 2)
        """,
        "mm_asset_dedup": """
            SELECT min(doc_id) AS keep_id, count(*) AS n_copies
            FROM documents GROUP BY doc_id % 100
        """,
        "clique4_total": graph_query(
            """
            SELECT count(*) AS n_4cliques FROM tri
            JOIN dag e4 ON e4.src = tri.u
            JOIN dag e5 ON e5.src = tri.v AND e5.dst = e4.dst
            JOIN dag e6 ON e6.src = tri.w AND e6.dst = e4.dst
            """,
            with_tri=True,
        ),
        "clique5_total": clique_sql(5),
        "clique6_total": clique_sql(6),
        "clique7_total": clique_sql(7),
        "clique8_total": clique_sql(8),
        "clique9_total": clique_sql(9),
        "graph_rev_label_index": graph_query(
            "SELECT (id % 7)::INT AS vlabel, "
            "string_agg(id::VARCHAR, ',' ORDER BY id) AS ids_s "
            "FROM deg GROUP BY 1"
        ),
        "labeled_tri_count": labeled_tri_sql(0, 1, 2),
        "fsm_edge_support": fsm_edge_support_sql(130),
        "fsm_elabel_support": fsm_elabel_support_sql(FSM_EL_MINSUP),
        "fsm_elabel_2edge_support": fsm_elabel_2edge_support_sql(
            FSM_EL2_MINSUP, divisor=SPARSE_DIVISOR
        ),
        "docs_text_stats": text_stats_sql(STOPWORDS, LANG_MARKERS),
        "fsm_2edge_support": fsm_2edge_support_sql(
            FSM2_MINSUP, divisor=SPARSE_DIVISOR
        ),
        "fsm_3edge_support": fsm_3edge_support_sql(
            FSM3_MINSUP, divisor=SPARSE_DIVISOR
        ),
        "fsm_4edge_support": fsm_4edge_support_sql(
            FSM4_MINSUP_SQL, divisor=1, scramble=True, sample_mod=2
        ),
        "pattern_counts": PATTERN_COUNTS_SQL,
        **{
            f"sgl_{n}": graph_query(
                pattern_count_sql_body(SGL_PATTERNS[n]), divisor=d, scramble=s
            )
            for n, (d, s) in SGL_GRAPH.items()
        },
        "query_labeled_diamond": graph_query(
            pattern_count_sql_body(LABELED_DIAMOND)
        ),
        "query_labeled_4path": graph_query(
            pattern_count_sql_body(LABELED_4PATH)
        ),
        "gks_3keywords": graph_query(gks_sql((1, 2, 3))),
        "motif4_counts": MOTIF4_SQL,
        "bip_degrees": BIP_DEGREES_SQL,
        "bip_butterflies": BUTTERFLY_SQL,
        "motif5_counts": graph_query(
            motif_counts_sql_body(5),
            divisor=MOTIF5_DIVISOR,
            scramble=MOTIF5_SCRAMBLE,
        ),
        "graph_label_freq": graph_query(
            "SELECT (id % 7)::INT AS vlabel, count(*) AS n FROM deg GROUP BY 1"
        ),
        "graph_nlf": graph_query(
            "SELECT src AS id, (dst % 7)::INT AS vlabel, count(*) AS n "
            "FROM sym GROUP BY 1, 2"
        ),
        "graph_feat_agg": feat_agg_sql(hops=2),
        "graph_kcore": kcore_sql(30, divisor=SPARSE_DIVISOR),
        "graph_coreness": coreness_hindex_sql(
            CORENESS_ROUNDS, divisor=SPARSE_DIVISOR
        ),
        "graph_bfs_dist": bfs_sql(
            BFS_SOURCE, BFS_ROUNDS, divisor=SPARSE_DIVISOR
        ),
        "graph_ktruss": _ktruss_oracle(),
        "graph_sssp": _sssp_oracle(),
        "graph_scc": _scc_oracle(),
        "graph_anf": _anf_oracle(),
        "graph_harmonic": _harmonic_oracle(),
        "graph_eff_diam": _eff_diam_oracle(),
        "graph_ball2": _ball2_oracle(),
        "cc_components": CC_SQL,
        "cc_sizes": (
            f"WITH _cc AS ({CC_SQL}) "
            "SELECT component, count(*) AS n_members FROM _cc GROUP BY component"
        ),
        "lp_labels_2iter": lp_sql(2),
        "graph_linkpred": linkpred_sql(500, divisor=SPARSE_DIVISOR),
        "graph_mis": _mis_oracle(),
        "graph_modularity": modularity_sql(2),
        "graph_louvain": _louvain_oracle(),
        "graph_louvain_w": _louvain_w_oracle(),
        "graph_louvain_q": _louvain_q_oracle(),
        "graph_coloring": _coloring_oracle(),
        "graph_betweenness": _betweenness_oracle(),
        "pagerank_5iter": pagerank_sql(5),
        "ppr_5iter": ppr_sql(5, mod=PPR_SOURCE_MOD),
        "wpr_5iter": wpr_sql(5),
        "hits_5iter": hits_sql(5),
        "salsa_5iter": salsa_sql(5),
        "graph_clustering": CLUSTERING_SQL,
        "graph_assortativity": graph_query(
            """
            SELECT printf('%.6f', (n * sjk - s1 * s1)
                          / cast(n * s2 - s1 * s1 AS double)) AS r_s
            FROM (
              SELECT count(*) AS n, sum(dj.deg) AS s1,
                     sum(dj.deg * dj.deg) AS s2,
                     sum(dj.deg * dk.deg) AS sjk
              FROM sym s
              JOIN deg dj ON dj.id = s.src
              JOIN deg dk ON dk.id = s.dst
            )
            """
        ),
        "pagerank_5iter_csr": pagerank_sql(5),
        "docs_exact_dedup": EXACT_DEDUP_SQL,
        "docs_lm_coverage": """
            WITH g AS MATERIALIZED (
              SELECT doc_id, substring(text, i.g::INT, 3) AS gram
              FROM documents,
              LATERAL (SELECT unnest(range(1, greatest(length(text) - 1,
                                                       1))) AS g) i
              WHERE length(text) >= 3
            ),
            m AS MATERIALIZED (
              SELECT gram FROM (
                SELECT gram,
                       row_number() OVER (ORDER BY count(*) DESC, gram)
                         AS rank
                FROM g GROUP BY gram) WHERE rank <= 64
            ),
            s AS (
              SELECT d.doc_id,
                     count(g.gram) AS n_grams,
                     coalesce(sum(CASE WHEN m.gram IS NOT NULL
                                       THEN 1 ELSE 0 END), 0) AS n_hits
              FROM documents d
              LEFT JOIN g ON g.doc_id = d.doc_id
              LEFT JOIN m ON m.gram = g.gram
              GROUP BY d.doc_id
            )
            SELECT doc_id, n_grams::BIGINT AS n_grams,
                   n_hits::BIGINT AS n_hits,
                   (CASE WHEN n_grams > 0 THEN (n_hits * 10000) // n_grams
                         ELSE 0 END)::BIGINT AS cov_bp
            FROM s
        """,
        "docs_stratified_sample": """
            SELECT doc_id, lang,
                   (CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500
                         ELSE 1000 END)::INT AS rate_bp
            FROM documents
            WHERE ('0x' || substr(md5(doc_id::VARCHAR || ':' || lang),
                                  1, 8))::BIGINT % 10000 <
                  CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500
                       ELSE 1000 END
        """,
        "docs_per_lang_sample": """
            SELECT doc_id, lang, sample_rank::INT AS sample_rank FROM (
              SELECT doc_id, lang,
                     row_number() OVER (
                       PARTITION BY lang
                       ORDER BY ('0x' || substr(
                           md5(doc_id::VARCHAR || ':psr'), 1, 8))::BIGINT,
                         doc_id) AS sample_rank
              FROM documents)
            WHERE sample_rank <= 10
        """,
        "docs_top_terms": """
            WITH words AS (
              SELECT doc_id, UNNEST(string_split(text, ' ')) AS word
              FROM documents
            ),
            tf AS (SELECT doc_id, word, count(*) AS tf FROM words GROUP BY 1, 2),
            dfq AS (SELECT word, count(DISTINCT doc_id) AS df FROM words GROUP BY 1),
            r AS (
              SELECT t.doc_id, t.word, t.tf,
                     row_number() OVER (PARTITION BY t.doc_id
                       ORDER BY t.tf DESC, d.df ASC, t.word ASC) AS rank
              FROM tf t JOIN dfq d ON d.word = t.word
            )
            SELECT doc_id, word, tf, rank::INT AS rank FROM r WHERE rank <= 3
        """,
        "ev_funnel": """
            WITH v AS (SELECT user_id, min(ts) AS t FROM events
                       WHERE event_type = 'view' GROUP BY 1),
            c AS (SELECT e.user_id, min(e.ts) AS t FROM events e
                  JOIN v ON v.user_id = e.user_id
                  WHERE e.event_type = 'click' AND e.ts > v.t GROUP BY 1),
            p AS (SELECT e.user_id, min(e.ts) AS t FROM events e
                  JOIN c ON c.user_id = e.user_id
                  WHERE e.event_type = 'purchase' AND e.ts > c.t GROUP BY 1)
            SELECT (SELECT count(*) FROM v) AS n_view,
                   (SELECT count(*) FROM c) AS n_view_click,
                   (SELECT count(*) FROM p) AS n_view_click_purchase
        """,
        "docs_token_count": TOKEN_COUNT_SQL,
        "docs_dup_spans": dup_spans_sql(8),
        "docs_pack_layout": _pack_layout_sql(),
        "docs_bpe_pairs": _bpe_pairs_oracle(),
        "docs_dsir_weights": _dsir_weights_oracle(),
        "docs_gopher_rep": GOPHER_REP_SQL,
        "docs_contamination": contamination_sql(4, 50),
        "docs_pii_scrub": _pii_oracle(),
        "docs_quality_mixture": """
WITH g AS MATERIALIZED (
  SELECT doc_id, substring(text, i.g::INT, 3) AS gram
  FROM documents,
  LATERAL (SELECT unnest(range(1, greatest(length(text) - 1, 1))) AS g) i
  WHERE length(text) >= 3
),
m AS MATERIALIZED (
  SELECT gram FROM (
    SELECT gram, row_number() OVER (ORDER BY count(*) DESC, gram) AS rank
    FROM g GROUP BY gram) WHERE rank <= 64
),
s AS (
  SELECT d.doc_id, count(g.gram) AS n_grams,
         coalesce(sum(CASE WHEN m.gram IS NOT NULL THEN 1 ELSE 0 END), 0) AS n_hits
  FROM documents d LEFT JOIN g ON g.doc_id = d.doc_id
  LEFT JOIN m ON m.gram = g.gram GROUP BY d.doc_id
),
sc AS (
  SELECT doc_id,
         (CASE WHEN n_grams = 0 THEN 0
               ELSE (10000 * n_hits) // n_grams END)::BIGINT AS score
  FROM s
),
b AS (
  SELECT doc_id, score, ntile(4) OVER (ORDER BY score, doc_id) AS bucket
  FROM sc
),
r AS (
  SELECT doc_id, bucket, score,
         row_number() OVER (
           PARTITION BY bucket
           ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || ':psr'), 1, 8))::BIGINT,
             doc_id) AS sample_rank
  FROM b
)
SELECT doc_id, bucket, score, sample_rank::INT AS sample_rank
FROM r WHERE sample_rank <= 25
""".strip(),
        "ev_props_json": """
SELECT event_type, COUNT(*)::BIGINT AS n_events,
       SUM(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k,
       MIN(json_extract(props, '$.k')::BIGINT)::BIGINT AS min_k,
       MAX(json_extract(props, '$.k')::BIGINT)::BIGINT AS max_k
FROM events GROUP BY event_type
""".strip(),
        "docs_url_normalize": (
            "SELECT doc_id, 'https://site' || (doc_id % 7)::VARCHAR || "
            "'.example/a/p' || doc_id::VARCHAR || '?q=' || "
            "(doc_id % 3)::VARCHAR AS norm_url FROM documents"
        ),
        "docs_quality": quality_sql(STOPWORDS),
        "docs_langid": langid_sql(LANG_MARKERS),
        "docs_fingerprint": FINGERPRINT_SQL,
        "docs_minhash_sigs": minhash_sql(16),
        "docs_lsh_neardup": lsh_neardup_sql(0.5),
        "docs_jaccard_pairs": jaccard_all_pairs_sql(0.3),
        "docs_simhash": SIMHASH_SQL,
        "docs_simhash_neardup": simhash_neardup_sql(20),
        "emb_knn": knn_sql(KNN_K, KNN_QUERIES),
        "emb_lsh_ann": lsh_ann_sql(KNN_K, 4, EMB_DIM),
        "emb_ivf_ann": ivf_ann_sql(KNN_K, 16, 4),
        "emb_semdedup": semdedup_sql(8, 0.35),
        "emb_neardup": emb_neardup_sql(0.25, 4, EMB_DIM),
        "olap_revenue_rollup": """
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity)::BIGINT AS sum_qty,
                   printf('%.2f', sum(l_extendedprice * (1 - l_discount))) AS revenue_s
            FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        """,
        "olap_revenue_cube": """
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity)::BIGINT AS sum_qty,
                   printf('%.2f', sum(l_extendedprice * (1 - l_discount))) AS revenue_s
            FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        """,
        "olap_top_parts": """
            WITH agg AS (
              SELECT l_suppkey, l_partkey, sum(l_quantity)::BIGINT AS qty
              FROM lineitem GROUP BY 1, 2
            ), ranked AS (
              SELECT l_suppkey, l_partkey, qty,
                     row_number() OVER (PARTITION BY l_suppkey
                                        ORDER BY qty DESC, l_partkey) AS rank
              FROM agg
            ) SELECT l_suppkey, l_partkey, qty, rank::INT AS rank
              FROM ranked WHERE rank <= 3
        """,
        "olap_status_pivot": """
            SELECT o_orderpriority,
                   sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)::BIGINT AS "n_O",
                   sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS "n_F",
                   sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)::BIGINT AS "n_P"
            FROM orders GROUP BY o_orderpriority
        """,
        "ev_windowed_counts": EV_WINDOWED_SQL,
        "ev_sessions": sessionize_sql(30),
        "ev_top_users": top_users_sql(10),
    }
