"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``
plus informational extras (pagerank iterations/hour, edges-scanned/sec,
graph size). ``BENCH/scaling.py`` runs this at two parallelism levels
for the north rule's scaling-efficiency evidence.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from graphminer_spark.algorithms.components import connected_components  # noqa: E402
from graphminer_spark.algorithms.labelprop import label_propagation  # noqa: E402
from graphminer_spark.algorithms.pagerank import pagerank  # noqa: E402
from graphminer_spark.algorithms.triangles import (  # noqa: E402
    per_edge_triangles,
    triangle_count,
)
from graphminer_spark.graph.build import build_dag, degrees, symmetrize  # noqa: E402
from graphminer_spark.graph.tpch_edges import tpch_edges  # noqa: E402
from graphminer_spark.session import get_spark  # noqa: E402
from graphminer_spark.sources.extract import build_link_graph  # noqa: E402
from graphminer_spark.sources.pages import generate_pages  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    pr_iters = int(os.environ.get("SPARK_GRAFT_PR_ITERS", "0"))  # 0 = to 1e-6
    # shuffle partitions sized to the data, not the core count: at
    # sf0.1 (~600k edges) 32 partitions is pure task overhead — 8 is
    # ~2x faster end-to-end; real clusters size this by input bytes
    shuffle = int(os.environ.get("SPARK_GRAFT_SHUFFLE", str(max(8, cpus // 4))))
    spark = get_spark("graphminer-bench", cores=cpus, shuffle_partitions=shuffle)

    timings: dict[str, float] = {}
    extra_timings: dict[str, float] = {}
    extras: dict[str, float | int | str] = {"cpus": cpus}

    # SPARK_GRAFT_REPS > 1 re-runs the side-effect-free query phases
    # and records the best repetition — the measurement protocol from
    # BENCH/BASELINE.md (this host shows ±40% hypervisor noise on
    # single runs; best-of-N at every phase is the same treatment for
    # every query, so it cannot favor one over another)
    reps = max(1, int(os.environ.get("SPARK_GRAFT_REPS", "2")))
    # extras were single-shot through round 2 and their rows swung 4-10x
    # with session/JVM state (tc_approx measured 20.3 s in-bench vs
    # 1.7 s isolated-warm) — best-of-N is the only meaningful protocol
    # on this host, for extras too
    extra_reps = max(1, int(os.environ.get("SPARK_GRAFT_EXTRA_REPS", "2")))

    # every individual repetition time, per query — regressions between
    # rounds are attributable from the JSON alone (spread vs code)
    rep_times: dict[str, list[float]] = {}

    def timed(name: str, fn, extra: bool = False, rep: bool = False):
        best = None
        n = (extra_reps if extra else reps) if (rep or extra) else 1
        for r in range(n):
            t0 = time.monotonic()
            out = fn()
            dt = round(time.monotonic() - t0, 3)
            rep_times.setdefault(name, []).append(dt)
            if best is None or dt < best:
                best = dt
        (extra_timings if extra else timings)[name] = best
        return out

    # ---- ingest: pages → extraction → link graph (Arrow UDF path).
    # Measured FIRST: it is the only Python-worker-heavy phase and its
    # latency is otherwise polluted by the JVM/GC state the iterative
    # phases accumulate (observed 6 s isolated vs 45 s when last).
    def _ingest():
        pages = generate_pages(spark, 1 << 15, seed=42)
        v, e = build_link_graph(pages)
        return e.count()

    extras["ingest_edges"] = int(timed("ingest_32k_pages", _ingest, rep=True))

    # ---- host-level rollup + weighted host PageRank (Common-Crawl
    # host-graph recipe) over the same 32k synthetic pages
    def _host_pr():
        from graphminer_spark.sources.extract import host_pagerank

        pages = generate_pages(spark, 1 << 15, seed=42)
        return host_pagerank(pages, n_iter=5).count()

    timed("host_pagerank_32k", _host_pr, extra=True)

    # ---- graph build (once, persisted — algorithms all consume it)
    def _build():
        edges = tpch_edges(spark, sf_dir).persist()
        n_edges = edges.count()
        sym = symmetrize(edges, dedup=False).persist()
        sym.count()
        verts = degrees(sym).select("id").persist()
        n_verts = verts.count()
        return edges, sym, verts, n_verts, n_edges

    edges, sym, verts, n_verts, n_edges = timed("graph_build", _build)
    extras["n_vertices"] = n_verts
    extras["n_edges"] = n_edges

    # ---- triangle counting (total + per-edge)
    def _dag():
        dag = build_dag(edges).persist()
        dag.count()  # persist() is lazy: materialize inside the timing
        return dag

    dag = timed("dag_build", _dag)
    n_tri = timed(
        "tc_total", lambda: triangle_count(dag).collect()[0]["n_triangles"], rep=True
    )
    extras["n_triangles"] = int(n_tri)
    timed("tc_per_edge", lambda: per_edge_triangles(edges, dag).count(), rep=True)

    # ---- PageRank to 1e-6 (north metric: iterations/hour, edges/sec)
    def _pr():
        if pr_iters > 0:
            return pagerank(edges, verts, tol=0.0, max_iter=pr_iters)
        return pagerank(edges, verts, tol=1e-6, max_iter=60)

    res = timed("pagerank", _pr, rep=True)
    extras["pagerank_iterations"] = res.iterations
    extras["pagerank_converged"] = res.converged
    extras["pagerank_iters_per_hour"] = round(
        res.iterations / (timings["pagerank"] / 3600.0), 1
    )
    extras["pagerank_edges_scanned_per_sec"] = round(
        res.iterations * n_edges / timings["pagerank"], 1
    )

    # ---- connected components / label propagation
    timed("cc", lambda: connected_components(edges, verts).count(), rep=True)
    timed("lp_4iter", lambda: label_propagation(sym, verts, n_iter=4).labels.count(), rep=True)

    # ---- round-5 graph additions (extras; sf0.1 probe: 11-15 s each)
    from graphminer_spark.algorithms.hits import salsa  # noqa: E402
    from graphminer_spark.algorithms.ktruss import ktruss  # noqa: E402
    from graphminer_spark.algorithms.scc import (  # noqa: E402
        hash_orient,
        strongly_connected_components,
    )
    from graphminer_spark.algorithms.sssp import sssp  # noqa: E402

    timed(
        "salsa_5iter",
        lambda: salsa(edges, verts, n_iter=5).count(),
        extra=True,
    )
    e20 = tpch_edges(spark, sf_dir, divisor=20)
    timed(
        "ktruss_k4",
        lambda: ktruss(symmetrize(e20, dedup=False), k=4).count(),
        extra=True,
    )
    e_scc = tpch_edges(spark, sf_dir, divisor=6, sample_mod=8)
    timed(
        "scc_bowtie",
        lambda: strongly_connected_components(hash_orient(e_scc)).count(),
        extra=True,
    )
    e_sp = tpch_edges(spark, sf_dir, divisor=6)
    timed(
        "sssp_weighted",
        lambda: sssp(symmetrize(e_sp, dedup=False), source=0).count(),
        extra=True,
    )

    # ---- round-5 session-4 additions: Louvain / JP coloring / BPE
    from graphminer_spark.algorithms.coloring import greedy_coloring  # noqa: E402
    from graphminer_spark.algorithms.community import (  # noqa: E402
        louvain_one_level,
    )
    from graphminer_spark.textops.bpe import train_bpe  # noqa: E402

    sym_sp = symmetrize(e_sp, dedup=False)
    timed(
        "louvain_4rounds",
        lambda: louvain_one_level(sym_sp, n_rounds=4).count(),
        extra=True,
    )
    e_col = tpch_edges(spark, sf_dir, divisor=6, sample_mod=8)
    timed(
        "coloring_jp",
        lambda: greedy_coloring(symmetrize(e_col, dedup=False))[0].count(),
        extra=True,
    )

    def _bpe():
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        merges, seg = train_bpe(docs, n_merges=8)
        n = seg.count()
        seg.unpersist()
        return n

    timed("bpe_train_8merges", _bpe, extra=True)

    def _dsir():
        from pyspark.sql import functions as FF

        from graphminer_spark.textops.dsir import (  # noqa: E402
            dsir_log_ratios,
            dsir_weights,
            hashed_feature_counts,
        )

        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        lam = dsir_log_ratios(
            hashed_feature_counts(docs.filter(FF.col("lang") == "en")),
            hashed_feature_counts(docs),
        )
        return dsir_weights(docs, lam).count()

    timed("dsir_weights", _dsir, extra=True)

    # ---- round-2 surfaces: timed separately so the headline total
    # stays comparable with BENCH_r01 (same query set).
    # The pattern extras push 10-100M-row wedge streams through their
    # aggregations — at shuffle=8 only a quarter of the cores work the
    # reduce side, so raise the runtime shuffle parallelism to the core
    # count for this section (AQE still coalesces the small stages).
    spark.conf.set("spark.sql.shuffle.partitions", str(cpus))
    # drop Python refs to the iterative algorithms' superseded
    # localCheckpoint states so the ContextCleaner can evict them
    # before the pattern extras start
    import gc

    gc.collect()
    from graphminer_spark.algorithms.motifs import motif4_counts  # noqa: E402
    from graphminer_spark.algorithms.subgraph import (  # noqa: E402
        SGL_PATTERNS,
        count_matches,
    )
    from graphminer_spark.algorithms.kcore import kcore  # noqa: E402

    sparse = tpch_edges(spark, sf_dir, divisor=6).persist()
    sparse_sym = symmetrize(sparse, dedup=False).persist()
    sparse_sym.count()
    sparse_dag = build_dag(sparse).persist()
    # the SPARSE graph for the 4-motif census: the dense divisor-60
    # graph's Σ outdeg·deg wedge stream makes this extra dominate the
    # whole bench (~2 min) without adding signal beyond the rectangle
    # kernel it exercises; exact-correctness at density is covered by
    # the motif4_counts oracle gate at sf0.01
    timed(
        "motif4_counts_sparse",
        lambda: motif4_counts(sparse, sparse_dag).collect(),
        extra=True,
    )
    timed(
        "sgl_house",
        lambda: count_matches(sparse_sym, SGL_PATTERNS["house"]).collect(),
        extra=True,
    )
    scrambled_sym = symmetrize(
        tpch_edges(spark, sf_dir, divisor=6, scramble=True), dedup=False
    )
    timed(
        "sgl_pentagon",
        lambda: count_matches(scrambled_sym, SGL_PATTERNS["pentagon"]).collect(),
        extra=True,
    )
    timed("kcore_sparse", lambda: kcore(sparse_sym, k=7).count(), extra=True)

    # ---- ANF curve: 5 FM-sketch bit-OR supersteps (PR-shaped shuffle,
    # 8·k bytes of state per vertex) on the scrambled sparse graph
    from graphminer_spark.algorithms.anf import neighborhood_function  # noqa: E402

    timed(
        "anf_h5_sparse",
        lambda: neighborhood_function(scrambled_sym, h_max=5).collect(),
        extra=True,
    )

    from graphminer_spark.algorithms.kcore import core_numbers_hindex  # noqa: E402
    from graphminer_spark.algorithms.triangles import (  # noqa: E402
        triangle_count_sampled,
    )

    timed(
        "coreness_hindex_sparse",
        lambda: core_numbers_hindex(sparse_sym).count(),
        extra=True,
    )
    timed(
        "tc_approx",
        lambda: triangle_count_sampled(edges).collect(),
        extra=True,
    )
    from graphminer_spark.algorithms.approx import colorful_path_count  # noqa: E402

    # color-coding 4-path estimate (approx family) on the scrambled
    # extra-sparse graph — path enumeration scales with deg^(k-1), the
    # same density choice as the 5/6-path SgL rows
    xsparse_sym = symmetrize(
        tpch_edges(spark, sf_dir, divisor=1, scramble=True, sample_mod=2),
        dedup=False,
    )
    timed(
        "path4_colorful_xsparse",
        lambda: colorful_path_count(xsparse_sym, k=4).collect(),
        extra=True,
    )
    from graphminer_spark.algorithms.approx import (  # noqa: E402
        colorful_path_count_dp,
    )

    # FASCIA color-set DP on the DENSE sparse-divisor graph — the
    # |V|*2^k-bounded plan (walk enumeration takes ~90 s here; the DP
    # aggregates the same 28.4M-path count in ~5 s, BENCH/BASELINE.md)
    timed(
        "path4_colorful_dp_dense",
        lambda: colorful_path_count_dp(sparse_sym, k=4).collect(),
        extra=True,
    )
    from graphminer_spark.algorithms.approx import (  # noqa: E402
        colorful_tree_count,
    )

    # general rooted-tree DP (chair = 4-path + pendant): ~360M
    # colorful embeddings aggregated without materialization
    timed(
        "tree_chair_colorful_dense",
        lambda: colorful_tree_count(
            sparse_sym, ((0, 1), (1, 2), (2, 3), (1, 4))
        ).collect(),
        extra=True,
    )
    # R=3 salted-coloring replication of the same DP — the estimator
    # family's variance/CI evidence (VERDICT r04 ask #5): three exact
    # per-coloring rows in ONE plan, ~3x the single-coloring state
    timed(
        "path4_colorful_dp_r3_dense",
        lambda: colorful_path_count_dp(
            sparse_sym, k=4, n_colorings=3, per_coloring=True
        ).collect(),
        extra=True,
    )
    from graphminer_spark.graph.partition2d import (  # noqa: E402
        auto_nc,
        triangle_count_2d,
    )

    # 2D block-local path with the AUTO-PICKED nc (r05; the knob's
    # two constraints are codified in auto_nc — nc=4 at this scale made
    # 4 fat tasks, measured 10x slower than nc=8; auto_nc picks 9 here)
    nc_auto = auto_nc(n_edges, cpus)
    extras["tc_2d_nc_auto"] = nc_auto
    timed(
        "tc_total_2d_auto",
        lambda: triangle_count_2d(dag, nc=nc_auto).collect(),
        extra=True,
    )
    from graphminer_spark.algorithms.fsm_general import (  # noqa: E402
        fsm_kedge_support,
    )

    # general-k gSpan frontier at k=4 on the sf0.1 scramble graph —
    # the depth-hardened miner (driver-built structure maps + canonical
    # -parent extension; the r04 dropDuplicates miner measured 1.8x
    # slower on this exact config). Level-row counts ship as extras so
    # frontier growth is visible round-over-round.
    fsm_stats: dict[str, int] = {}

    def _fsm4():
        scr_sym = symmetrize(
            tpch_edges(spark, sf_dir, divisor=1, scramble=True, sample_mod=2),
            dedup=False,
        ).persist()
        m_scr = scr_sym.count()
        from graphminer_spark.graph.labels import with_synthetic_labels

        fsm_stats.clear()
        n = fsm_kedge_support(
            scr_sym,
            with_synthetic_labels(degrees(scr_sym).select("id")),
            k=4,
            minsup=max(3, m_scr // 3000),
            stats=fsm_stats,
        ).count()
        scr_sym.unpersist()
        return n

    extras["fsm_4edge_frequent"] = int(
        timed("fsm_4edge_scramble", _fsm4, extra=True)
    )
    extras["fsm_level_rows"] = dict(fsm_stats)
    srcs = verts.filter(F.col("id") % 50 == 0)
    timed(
        "ppr_5iter",
        lambda: pagerank(edges, verts, tol=0.0, max_iter=5, sources=srcs).ranks.count(),
        extra=True,
    )

    # ---- Query pipeline at density: the labeled house on the DENSE
    # divisor-60 graph, on the plan the matcher picks for it (uniform
    # synthetic labels: no filter stage, candidate-cardinality order)
    from graphminer_spark.algorithms.subgraph import PatternSpec  # noqa: E402
    from graphminer_spark.graph.labels import with_synthetic_labels  # noqa: E402

    labeled_house = PatternSpec(
        "labeled_house",
        5,
        ((0, 1), (0, 2), (1, 2), (1, 3), (3, 4), (0, 4)),
        vlabels=(0, 1, 2, 3, 4),
    )
    lv = with_synthetic_labels(verts)
    timed(
        "query_labeled_house_dense",
        lambda: count_matches(sym, labeled_house, lv).collect(),
        extra=True,
    )

    # ---- LLM-pipeline rows (round-5 components): SemDeDup semantic
    # dedup over trained k-means cells and the corpus-trained trigram
    # coverage scorer — both exact-integer plans, measured at sf0.1
    # corpus scale (2k vectors / 5k docs)
    from graphminer_spark.similarity import semantic_dedup  # noqa: E402
    from graphminer_spark.textops.lm_score import (  # noqa: E402
        lm_coverage_score,
        train_trigram_model,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    timed(
        "emb_semdedup",
        lambda: semantic_dedup(
            embs, n_clusters=16, tau=0.35, train_iters=2
        ).count(),
        extra=True,
    )
    docs_df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    timed(
        "docs_lm_coverage",
        lambda: lm_coverage_score(
            docs_df, train_trigram_model(docs_df, top_k=64)
        ).count(),
        extra=True,
    )

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").split("sf")[-1]
    print(
        json.dumps(
            {
                "metric": "link_graph_suite_sec",
                "value": total,
                "unit": "sec",
                "queries": {**timings, **extra_timings},
                "headline_queries": sorted(timings),
                "reps_best_of": reps,
                "reps": rep_times,
                "extras_sec": round(sum(extra_timings.values()), 3),
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                **extras,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
