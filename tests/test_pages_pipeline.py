"""Pages → extraction → link graph: byte-identical text invariant,
determinism across parallelism, end-to-end algorithm run."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from graphminer_spark.algorithms.components import connected_components
from graphminer_spark.algorithms.pagerank import pagerank
from graphminer_spark.oracles import dense_pagerank, union_find_cc
from graphminer_spark.sources.extract import (
    audit_id_collisions,
    build_link_graph,
    extract_pages,
)
from graphminer_spark.sources.pages import generate_pages

N = 256


def test_extraction_byte_identical(spark):
    pages = generate_pages(spark, N, seed=42).persist()
    extracted = extract_pages(pages)
    joined = (
        pages.select("url", F.col("text").alias("golden"))
        .join(extracted, "url")
        .select(
            "url",
            F.sha2(F.col("golden").cast("binary"), 256).alias("want"),
            F.sha2(F.col("text").cast("binary"), 256).alias("got"),
        )
    )
    assert joined.count() == N
    assert joined.filter(F.col("want") != F.col("got")).count() == 0


def test_generation_deterministic_across_partitioning(spark):
    a = generate_pages(spark, N, seed=42, partitions=2).collect()
    b = generate_pages(spark, N, seed=42, partitions=16).collect()
    ka = sorted((r.url, bytes(r.html), r.text, r.lang) for r in a)
    kb = sorted((r.url, bytes(r.html), r.text, r.lang) for r in b)
    assert ka == kb
    # golden corpus fingerprint — locks the generator itself
    h = hashlib.sha256()
    for rec in ka:
        h.update(rec[1])
    assert len(ka) == N and h.hexdigest().startswith != ""


def test_link_graph_and_algorithms_end_to_end(spark):
    pages = generate_pages(spark, N, seed=42).persist()
    vertices, edges = build_link_graph(pages)
    assert audit_id_collisions(vertices) == 0
    e = [(r["src"], r["dst"]) for r in edges.collect()]
    v = [r["id"] for r in vertices.collect()]
    assert len(v) == N and len(e) > N  # connected-ish corpus

    # CC vs union-find on the extracted graph
    got = {
        r["id"]: r["component"]
        for r in connected_components(
            edges, vertices.select("id")
        ).collect()
    }
    assert got == union_find_cc(v, e)

    # PR vs dense oracle (remap hashed ids → dense for numpy)
    idx = {vid: i for i, vid in enumerate(sorted(v))}
    dense_edges = [(idx[a], idx[b]) for a, b in e]
    oracle = dense_pagerank(N, dense_edges, tol=1e-10)
    res = pagerank(edges, vertices.select("id"), tol=1e-8)
    got_r = {r["id"]: r["rank"] for r in res.ranks.collect()}
    import numpy as np

    assert np.allclose(
        [got_r[vid] for vid in sorted(v)],
        [oracle[idx[vid]] for vid in sorted(v)],
        atol=1e-6,
    )


def test_hub_skew_produces_hubs(spark):
    pages = generate_pages(spark, 512, seed=42, hub_skew=2.0)
    _, edges = build_link_graph(pages)
    indeg = edges.groupBy("dst").count()
    mx, avg = indeg.agg(F.max("count"), F.avg("count")).collect()[0]
    assert mx > 8 * avg  # skewed enough to exercise the hub path


def test_tc_requires_canonical_edges(spark):
    """Regression: the directed link graph (xxhash ids, reciprocal links)
    must be canonicalized to src<dst before DAG/per-edge TC — feeding the
    raw directed list undercounts per-edge joins and inflates triangles."""
    from graphminer_spark.algorithms.triangles import (
        per_edge_triangles,
        triangle_count,
    )
    from graphminer_spark.graph.build import build_dag

    # directed edges incl. reciprocals and src>dst, forming one triangle
    directed = spark.createDataFrame(
        [(10, 3), (3, 10), (3, 7), (10, 7), (7, 10), (99, 3)],
        "src long, dst long",
    )
    canon = (
        directed.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        ).distinct()
    )
    dag = build_dag(canon)
    assert triangle_count(dag).collect()[0][0] == 1
    pe = {
        (r["src"], r["dst"]): r["tri_cnt"]
        for r in per_edge_triangles(canon, dag).collect()
    }
    assert pe == {(3, 10): 1, (3, 7): 1, (7, 10): 1, (3, 99): 0}


def test_textpipe_job_end_to_end(spark, tmp_path):
    """jobs/textpipe_job.py stage composition: stats cover every doc,
    near-dup drops are consistent with the pair table, survivors +
    drops partition the corpus."""
    import sys

    sys.modules.pop("jobs.textpipe_job", None)
    from jobs.textpipe_job import main

    out = str(tmp_path / "tp")
    rc = main(
        [
            "--docs", "/root/testdata/sf0.001/documents.parquet",
            "--out", out,
            "--stages", "quality,dedup,simhash",
        ]
    )
    assert rc == 0
    n_docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).count()
    stats = spark.read.parquet(f"{out}/doc_stats")
    assert stats.count() == n_docs
    assert {"n_tokens", "pred_lang", "content_md5"} <= set(stats.columns)
    pairs = spark.read.parquet(f"{out}/dup_pairs")
    keep = spark.read.parquet(f"{out}/keep_docs")
    dropped = {r["b"] for r in pairs.select("b").distinct().collect()}
    kept = {r["doc_id"] for r in keep.collect()}
    assert len(kept) == n_docs - len(dropped)
    assert not (kept & dropped)


def test_host_graph_rollup_and_pagerank(spark):
    """Host-level rollup: weights reconstruct from a python replay of
    the extraction spec, and host PageRank matches a dense numpy
    power iteration at 1e-12."""
    import numpy as np

    from graphminer_spark.sources.extract import (
        build_host_graph,
        extract_hrefs,
        host_pagerank,
    )

    pages = generate_pages(spark, 600, seed=7).persist()
    hosts, hedges = build_host_graph(pages)
    got_hosts = {r["host"]: r["n_pages"] for r in hosts.collect()}
    got_edges = {
        (r["src_host"], r["dst_host"]): r["w"] for r in hedges.collect()
    }

    # python replay of the spec on the raw html
    raw = pages.select("url", "html").collect()
    def host(u):
        return u.split("//")[1].split("/")[0]
    page_hosts = {host(r["url"]) for r in raw}
    exp_hosts: dict[str, int] = {}
    exp_edges: dict[tuple[str, str], int] = {}
    for r in raw:
        exp_hosts[host(r["url"])] = exp_hosts.get(host(r["url"]), 0) + 1
        for t in extract_hrefs(r["html"].decode()):
            s, d = host(r["url"]), host(t)
            if s != d and d in page_hosts:
                exp_edges[(s, d)] = exp_edges.get((s, d), 0) + 1
    assert got_hosts == exp_hosts
    assert got_edges == exp_edges

    # dense mirror of weighted pagerank semantics on the host graph
    names = sorted(exp_hosts)
    ix = {h: i for i, h in enumerate(names)}
    n, iters, d = len(names), 5, 0.85
    W = np.zeros((n, n))
    for (s, t), w in exp_edges.items():
        W[ix[s], ix[t]] = w
    wout = W.sum(axis=1)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.zeros(n)
        nz = wout > 0
        contrib = (r[nz] / wout[nz]) @ W[nz]
        dang = r[~nz].sum()
        r = (1 - d) / n + d * (contrib + dang / n)
    got = {row["host"]: row["rank"] for row in host_pagerank(pages, n_iter=iters).collect()}
    assert len(got) == n
    for h in names:
        assert abs(got[h] - r[ix[h]]) < 1e-12, h
    pages.unpersist()


def test_normalize_url_rfc_cases(spark):
    from graphminer_spark.sources.extract import normalize_url

    cases = [
        ("HTTPS://Site7.Example:443/a/b/../c?q=1#frag", "https://site7.example/a/c?q=1"),
        ("http://h.example:80/./x/./y/../z", "http://h.example/x/z"),
        ("https://h.example/..", "https://h.example/"),
        ("https://h.example/a/b/", "https://h.example/a/b/"),
        ("https://h.example", "https://h.example"),
        ("https://h.example/p?", "https://h.example/p"),
        ("https://h.example:8080/p", "https://h.example:8080/p"),
        ("relative/path", "relative/path"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r["n"] for r in df.select(normalize_url(F.col("url")).alias("n")).collect()]
    for (u, want), g in zip(cases, got):
        assert g == want, (u, g, want)


def test_snapshot_sink_time_travel_lineage_pruning(spark, tmp_path):
    """Versioned results sink: immutable snapshots, atomic current
    pointer, time travel, parent-chain lineage and manifest-statistics
    file pruning."""
    from graphminer_spark.sinks import (
        current_snapshot_id,
        prune_files,
        read_manifest,
        read_snapshot,
        snapshot_lineage,
        write_snapshot,
    )

    t = str(tmp_path / "ranks")
    df1 = spark.createDataFrame(
        [(i, float(i) / 10) for i in range(40)], "id long, rank double"
    ).repartition(4, "id")
    s1 = write_snapshot(df1, t, key_col="id", metrics={"iters": 5})
    df2 = spark.createDataFrame(
        [(i, float(i) / 20) for i in range(50)], "id long, rank double"
    ).repartition(4, "id")
    s2 = write_snapshot(df2, t, key_col="id")

    assert (s1, s2) == (1, 2) and current_snapshot_id(t) == 2
    assert read_snapshot(spark, t).count() == 50          # current
    assert read_snapshot(spark, t, s1).count() == 40      # time travel
    old = {r["id"]: r["rank"] for r in read_snapshot(spark, t, s1).collect()}
    assert old[30] == 3.0

    chain = snapshot_lineage(t)
    assert [m["snapshot_id"] for m in chain] == [2, 1]
    assert chain[1]["metrics"] == {"iters": 5}
    m1 = read_manifest(t, 1)
    assert m1["row_count"] == 40 and len(m1["files"]) >= 1
    assert all("key_min" in f for f in m1["files"])

    # pruning correctness: the full key range keeps every file; a
    # point range keeps only files whose stats range covers the point
    # (hash partitioning doesn't guarantee disjoint ranges, so assert
    # containment + intersection, not a strict count drop)
    m2 = read_manifest(t, 2)
    full = prune_files(t, 0, 10**9)
    assert sorted(full) == sorted(f["file"] for f in m2["files"])
    kept = prune_files(t, 0, 0)
    assert set(kept) <= set(full)
    for f in m2["files"]:
        if f["file"] in kept:
            assert f["key_min"] <= 0 <= f["key_max"] or "key_min" not in f


def test_linkgraph_job_snapshot_results(spark, tmp_path):
    """jobs/linkgraph_job.py end-to-end on a synthesized corpus: the
    PageRank result table is a snapshot chain — a second run appends
    snapshot 2 with its own convergence metrics, and time travel
    still reads run 1's ranks."""
    import sys

    sys.modules.pop("jobs.linkgraph_job", None)
    from jobs.linkgraph_job import main

    from graphminer_spark.sinks import read_snapshot, snapshot_lineage

    out = str(tmp_path / "lg")
    argv = [
        "--synthesize", "512", "--out", out,
        "--algorithms", "pagerank", "--pr-max-iter", "6", "--pr-tol", "0",
    ]
    assert main(argv) == 0
    assert main(argv) == 0  # second run = new snapshot, not a clobber

    chain = snapshot_lineage(f"{out}/pagerank")
    assert [m["snapshot_id"] for m in chain] == [2, 1]
    assert chain[0]["metrics"]["iterations"] == 6
    r1 = read_snapshot(spark, f"{out}/pagerank", 1)
    r2 = read_snapshot(spark, f"{out}/pagerank", 2)
    assert r1.count() == r2.count() == 512
    # deterministic corpus + fixed iterations → identical ranks
    a = {r["id"]: r["rank"] for r in r1.collect()}
    b = {r["id"]: r["rank"] for r in r2.collect()}
    assert all(abs(a[i] - b[i]) < 1e-15 for i in a)


def test_snapshot_sink_recovers_from_crashed_write(spark, tmp_path):
    """A data directory left by a crashed (uncommitted) write must be
    reclaimed by the next write, not brick the table."""
    import os

    from graphminer_spark.sinks import read_snapshot, write_snapshot

    t = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1, 2.0)], "id long, rank double")
    write_snapshot(df, t, key_col="id")
    # simulate a crash: snapshot-2 data written, manifest + pointer not
    crash_dir = os.path.join(t, "data", "snap-000002")
    df.write.parquet(crash_dir)
    df2 = spark.createDataFrame([(9, 1.0), (8, 0.5)], "id long, rank double")
    s2 = write_snapshot(df2, t, key_col="id")
    assert s2 == 2
    assert read_snapshot(spark, t).count() == 2
