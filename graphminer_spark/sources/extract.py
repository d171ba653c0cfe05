"""HTML → text + href extraction (the engine's ingest operator).

The reference ingests graphs through out-of-repo converters
(``/root/reference/README.md:104-116``); our equivalent turns a pages
table into the canonical edge table. Extraction runs as a single
``mapInPandas`` pass (Arrow-batched; Python never sees a row at a
time) and must reproduce the ``text`` column **byte-identically** —
the graft's per-row invariant, asserted via SHA-256 in tests.

Extraction spec (deterministic, dependency-free):
* text  = inner text of each ``<p>…</p>`` block in document order,
  tags stripped, blocks joined with ``\\n``.
* hrefs = every ``<a href="…">`` target in document order.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_P_BLOCK = re.compile(r"<p>(.*?)</p>", re.DOTALL)
_TAG = re.compile(r"<[^>]+>")
_HREF = re.compile(r'<a href="([^"]+)"')

EXTRACT_SCHEMA = "url string, text string, hrefs array<string>"


def extract_text(html: str) -> str:
    return "\n".join(_TAG.sub("", m) for m in _P_BLOCK.findall(html))


def extract_hrefs(html: str) -> list[str]:
    return _HREF.findall(html)


def extract_pages(pages: DataFrame) -> DataFrame:
    """``(url, html)`` → ``(url, text, hrefs)`` via Arrow batches."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            htmls = [h.decode("utf-8") for h in pdf["html"]]
            yield pd.DataFrame(
                {
                    "url": pdf["url"].to_numpy(),
                    "text": [extract_text(h) for h in htmls],
                    "hrefs": [extract_hrefs(h) for h in htmls],
                }
            )

    return pages.select("url", "html").mapInPandas(run, schema=EXTRACT_SCHEMA)


def build_link_graph(pages: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Pages → ``(vertices(id, url), edges(src, dst))``.

    Ids are stable 64-bit ``xxhash64(url)`` values — no global sort or
    single-partition window, so id-encoding scales linearly; the
    collision audit is the caller's job (``audit_id_collisions``).
    Edges keep only targets that exist in the corpus (semi-join on
    vertices), drop self-loops, and dedup.
    """
    extracted = extract_pages(pages)
    vertices = pages.select(
        F.xxhash64("url").alias("id"), "url"
    ).distinct()
    raw = (
        extracted.select("url", F.explode("hrefs").alias("target"))
        .select(
            F.xxhash64("url").alias("src"), F.xxhash64("target").alias("dst")
        )
    )
    edges = (
        raw.join(vertices.select(F.col("id").alias("dst")), "dst", "left_semi")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return vertices, edges


def audit_id_collisions(vertices: DataFrame) -> int:
    """xxhash64 collision audit: #distinct urls − #distinct ids (must
    be 0; at 10^12 urls the expected number of 64-bit collisions is
    ~0.03, and a nonzero audit falls back to salted re-hash upstream)."""
    row = vertices.agg(
        (F.countDistinct("url") - F.countDistinct("id")).alias("c")
    ).collect()[0]
    return int(row["c"])


# ------------------------------------------------------------- host graph

def host_expr(url_col):
    """JVM-side host extraction (``parse_url(..., 'HOST')``) — the
    Common-Crawl host-graph key. No Python."""
    return F.parse_url(url_col, F.lit("HOST"))


def build_host_graph(pages: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Pages → host-level webgraph, the standard Common-Crawl rollup
    (cf. the reference's coarsened-graph inputs, converters in
    ``/root/reference/README.md:104-116``): ``hosts(host, n_pages)``
    and weighted ``hedges(src_host, dst_host, w)`` where ``w`` counts
    page-level links (href multiplicity kept — host-graph edge weight
    IS the link count), intra-host links dropped, targets restricted
    to hosts present in the corpus.

    Scale: the rollup is one partial-aggregatable groupBy on
    (src_host, dst_host) — at 10^12 pages the host graph is ~10^7
    rows, so everything downstream (host PR, broadcast joins against
    page-level tables) is dimension-table sized.
    """
    hosts = (
        pages.select(host_expr(F.col("url")).alias("host"))
        .groupBy("host")
        .agg(F.count("*").alias("n_pages"))
    )
    pairs = (
        extract_pages(pages)
        .select(
            host_expr(F.col("url")).alias("src_host"),
            F.explode("hrefs").alias("t"),
        )
        .select("src_host", host_expr(F.col("t")).alias("dst_host"))
    )
    hedges = (
        pairs.join(
            hosts.select(F.col("host").alias("dst_host")),
            "dst_host",
            "left_semi",
        )
        .filter(F.col("src_host") != F.col("dst_host"))
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").alias("w"))
    )
    return hosts, hedges


def host_pagerank(
    pages: DataFrame, damping: float = 0.85, n_iter: int = 5
) -> DataFrame:
    """Host-level weighted PageRank → ``(host, rank)``: rank splits
    across host out-links proportionally to link count (the
    Common-Crawl host-rank recipe), via :func:`pagerank` with ``weight`` —
    same fused superstep, dangling-mass redistribution and checkpoint
    lineage as the page-level path."""
    from graphminer_spark.algorithms.pagerank import pagerank

    hosts, hedges = build_host_graph(pages)
    # both tables are dimension-sized — cut lineage once so the
    # Arrow extraction pass runs exactly once (pagerank derives the
    # weighted out-degree AND its persisted edge table from hedges, which
    # would otherwise re-run extract_pages per derivation)
    hosts = hosts.localCheckpoint(eager=True)
    hedges = hedges.localCheckpoint(eager=True)
    verts = hosts.select(F.xxhash64("host").alias("id"))
    wedges = hedges.select(
        F.xxhash64("src_host").alias("src"),
        F.xxhash64("dst_host").alias("dst"),
        "w",
    )
    ranks = pagerank(wedges, verts, damping, tol=0.0, max_iter=n_iter, weight="w").ranks
    return (
        hosts.select("host", F.xxhash64("host").alias("id"))
        .join(ranks, "id")
        .select("host", "rank")
    )


def normalize_url(url_col) -> "F.Column":
    """RFC 3986-style URL canonicalization, entirely JVM-side (no
    Python, no UDF): lowercase scheme+host, strip fragment and
    default ports (:80/:443), drop trailing ``?``, resolve ``.`` /
    ``..`` path segments with an ``F.aggregate`` fold over the split
    path (the array-programming analogue of the usual imperative
    stack walk).

    Common-Crawl link graphs canonicalize before hashing — without
    this, ``a/b/../c`` and ``a/c`` become two vertices and the graph
    silently doubles.
    """
    c = F.trim(url_col)
    # fragment, then empty query
    c = F.regexp_replace(c, r"#.*$", "")
    c = F.regexp_replace(c, r"\?$", "")
    scheme = F.lower(F.regexp_extract(c, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    authority = F.lower(F.regexp_extract(c, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    authority = F.regexp_replace(authority, r":(80|443)$", "")
    rest = F.regexp_extract(c, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$", 1)
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    query = F.regexp_extract(rest, r"^[^?]*(\?.*)?$", 1)
    # dot-segment removal: fold segments through an array stack
    segs = F.split(path, "/")
    stack = F.aggregate(
        segs,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(s == ".", acc)
        .when(
            s == "..",
            # pop unless the stack is just the leading-root marker
            F.when(F.size(acc) > 1, F.slice(acc, 1, F.size(acc) - 1)).otherwise(acc),
        )
        .otherwise(F.concat(acc, F.array(s))),
    )
    norm_path = F.concat_ws("/", stack)
    # a non-empty path always starts at root; bare authority keeps ""
    norm_path = F.when(
        (path != "") & ~norm_path.startswith("/"), F.concat(F.lit("/"), norm_path)
    ).otherwise(norm_path)
    return F.when(
        scheme == "", c  # not an absolute http(s)-style URL: leave as-is
    ).otherwise(F.concat(scheme, F.lit("://"), authority, norm_path, query))
