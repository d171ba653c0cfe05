"""The workloads: seeded inputs, expected outputs and one pass.

A pass is a closed loop of one caller: each operator is called only
after the previous one's output has been forced and checked. Every
operator's output is forced completely inside its timed region
(``_force``: persist plus one aggregate over every output column), so
lazy plans cannot hide work, and checked against the oracle after it.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import inputs
import oracle
from tracing import TimedCheckpointManager

# crawl_linkgraph: generate_pages corpus (hub-skewed, <= 8 links a page)
CRAWL_PAGES = 1 << 13
CRAWL_HUB_SKEW = 2.0
CRAWL_MAX_LINKS = 8
CRAWL_LP_ITER = 10
CHECKPOINT_EVERY = 5  # linkgraph_job --checkpoint-every default
# pattern_mining: FSM on a sparse uniform graph (scramble, sample_mod=4
# shape: mean degree ~2) and pentagons on a mean-degree-12 graph (the
# divisor-6 scramble shape)
FSM_VERTICES = 20_000
FSM_EDGES = 20_000
FSM_MINSUP_DIV = 2_000  # minsup = |sym| // 2000
PENT_VERTICES = 6_000
PENT_EDGES = 36_000

PR_TOL = 1e-6
PR_MAX_ITER = 100

ANALYTICS = ("pagerank", "components", "labelprop", "triangles", "fsm_general", "subgraph")
OPS = {
    "crawl_linkgraph": ("sources", "graph", "pagerank", "sinks", "components", "labelprop", "triangles"),
    "pattern_mining": ("sources", "graph", "fsm_general", "subgraph"),
}


class OpFailed(Exception):
    """An operator raised; the pass cannot go on without its output."""


@dataclass
class OpRecord:
    module: str
    group: str
    wall_s: float
    error: str | None = None
    persistent_rdds: int = 0
    counts: dict = field(default_factory=dict)


def _canon(edges: DataFrame) -> DataFrame:
    """The job's canonicalisation: undirected ``src < dst``, deduplicated."""
    return edges.select(
        F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
    ).distinct()


def _expected_dag(canon: np.ndarray) -> np.ndarray:
    """Degree-ordered orientation: ``u -> v`` iff ``(deg v, v) > (deg u, u)``."""
    ids, inv = np.unique(canon, return_inverse=True)
    deg = np.bincount(inv, minlength=len(ids))[inv.reshape(canon.shape)]
    fwd = (deg[:, 1] > deg[:, 0]) | ((deg[:, 1] == deg[:, 0]) & (canon[:, 1] > canon[:, 0]))
    out = np.where(fwd[:, None], canon, canon[:, ::-1])
    return out[np.lexsort((out[:, 1], out[:, 0]))]


# -------------------------------------------------------------- inputs


def make_inputs(workload: str, seed: int) -> dict:
    """The seeded input each workload hands the engine."""
    if workload == "crawl_linkgraph":
        return {"seed": seed}
    if workload == "pattern_mining":
        base = inputs.BASE_SEED
        return {
            "fsm": inputs.relabel(inputs.random_graph(FSM_VERTICES, FSM_EDGES, base + 1), seed),
            "pent": inputs.relabel(inputs.random_graph(PENT_VERTICES, PENT_EDGES, base + 2), seed),
        }
    raise ValueError(f"unknown workload {workload!r}")


def fsm_minsup(sym_rows: int) -> int:
    return max(3, sym_rows // FSM_MINSUP_DIV)


def expected(workload: str, seed: int, inp: dict, cache_dir: str) -> dict:
    """Oracle outputs for the seed, from the cache or computed now."""
    tag = {
        "crawl_linkgraph": f"n{CRAWL_PAGES}-h{CRAWL_HUB_SKEW}-l{CRAWL_MAX_LINKS}-lp{CRAWL_LP_ITER}",
        "pattern_mining": f"f{FSM_VERTICES}.{FSM_EDGES}.{FSM_MINSUP_DIV}-p{PENT_VERTICES}.{PENT_EDGES}",
    }[workload]
    path = os.path.join(cache_dir, f"{workload}-{tag}-seed{seed}.npz")

    def compute() -> dict:
        if workload == "pattern_mining":
            canon = inputs.canonical(inp["fsm"])
            return oracle.pattern_expectations(canon, fsm_minsup(2 * len(canon)), inputs.canonical(inp["pent"]))
        ids, directed = oracle.crawl_graph(CRAWL_PAGES, seed, CRAWL_HUB_SKEW, CRAWL_MAX_LINKS)
        canon = inputs.canonical(directed)
        return {
            **oracle.graph_expectations(ids, directed, canon, CRAWL_LP_ITER),
            "directed": directed,
            "canon": canon,
            "dag": _expected_dag(canon),
        }

    return oracle.cached(path, compute)


# ---------------------------------------------------------------- a pass


class Pass:
    """One closed-loop pass: times each operator call, forces and checks
    its output, and records spans, job groups and checkpoint counters."""

    def __init__(self, spark, tracer, traced: bool, work: str, index: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.traced = traced
        self.work = work
        self.index = index
        self.records: list[OpRecord] = []
        self.checkpointers: dict[str, TimedCheckpointManager] = {}
        self.fsm_stats: dict[str, int] = {}
        self._cached: list[DataFrame] = []

    def force(self, df: DataFrame) -> tuple[DataFrame, int]:
        """Persist ``df`` and compute its full contents in one job; return it
        with its row count. Folding a hash of every column into the aggregate
        keeps the optimizer from pruning any column's computation (``count()``
        alone lets it skip them)."""
        df = df.persist()
        self._cached.append(df)
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(*df.columns)).alias("h"),
        ).collect()[0]
        return df, int(row["n"])

    def release(self) -> None:
        """Unpersist what ``force`` cached, so passes do not accumulate it."""
        for df in self._cached:
            df.unpersist()
        self._cached = []

    def ckpt(self, module: str) -> TimedCheckpointManager:
        """The job path's checkpointing: durable parquet every 5 supersteps,
        no release chain (``linkgraph_job`` builds its managers this way)."""
        ck = TimedCheckpointManager(self.tracer, os.path.join(self.work, "ckpt", module), every=CHECKPOINT_EVERY)
        self.checkpointers[module] = ck
        return ck

    def op(self, module: str, fn, check=None):
        """Call ``fn`` (the operator plus the forcing of its output) as one
        timed unit, then ``check(result)`` outside the operator's time."""
        group = f"p{self.index}.{len(self.records)}.{module}"
        if self.traced:
            self.sc.setJobGroup(group, module)
        error = None
        with self.tracer.span(module, group=group):
            t0 = time.monotonic()
            try:
                result = fn()
            except Exception as exc:  # an operator failure is a measured outcome
                traceback.print_exc()
                error = f"raised {type(exc).__name__}: {exc}"
                result = None
            wall = time.monotonic() - t0
        if self.traced:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        rec = OpRecord(module, group, wall, error)
        rec.persistent_rdds = self.sc._jsc.getPersistentRDDs().size()
        self.records.append(rec)
        if error is None and check is not None:
            with self.tracer.span(f"check.{module}"):
                try:
                    error = check(result)
                except Exception as exc:  # a check that cannot run is a failed check
                    error = f"check raised {type(exc).__name__}: {exc}"
            rec.error = error
        if rec.error:
            print(f"[perfbench] {module} FAILED: {rec.error}", file=sys.stderr)
        if result is None:
            raise OpFailed(module)
        return result


def _check_graph(canon_df, deg_df, dag_df, exp) -> str | None:
    bad = oracle.check_edges(canon_df.toPandas(), exp["canon"])
    if bad:
        return "canonical " + bad
    got = dag_df.toPandas()[["src", "dst"]].to_numpy(np.int64)
    got = got[np.lexsort((got[:, 1], got[:, 0]))]
    if got.shape != exp["dag"].shape or not np.array_equal(got, exp["dag"]):
        return "degree-ordered DAG differs"
    deg = deg_df.toPandas()
    ids, counts = np.unique(exp["canon"], return_counts=True)
    deg = deg.sort_values("id")
    if not (np.array_equal(deg["id"].to_numpy(), ids) and np.array_equal(deg["deg"].to_numpy(), counts)):
        return "degree table differs"
    return None


def crawl_pass(p: Pass, inp: dict, exp: dict) -> None:
    """linkgraph_job path: Arrow ingest, graph build, PageRank with durable
    checkpoints and a snapshot sink, CC, LP until stable, TC."""
    from graphminer_spark.algorithms.components import connected_components
    from graphminer_spark.algorithms.labelprop import label_propagation
    from graphminer_spark.algorithms.pagerank import pagerank
    from graphminer_spark.algorithms.triangles import per_edge_triangles, triangle_count
    from graphminer_spark.graph.build import build_dag, degrees, symmetrize
    from graphminer_spark.sinks import read_manifest, write_snapshot
    from graphminer_spark.sources.extract import audit_id_collisions, build_link_graph
    from graphminer_spark.sources.pages import generate_pages

    for d in ("ckpt", "out"):
        shutil.rmtree(os.path.join(p.work, d), ignore_errors=True)
    ids = exp["ids"]

    def ingest():
        pages = generate_pages(
            p.spark, CRAWL_PAGES, seed=inp["seed"], hub_skew=CRAWL_HUB_SKEW, max_links=CRAWL_MAX_LINKS
        )
        vertices, edges = build_link_graph(pages)
        edges, ne = p.force(edges)
        vertices, nv = p.force(vertices)
        if audit_id_collisions(vertices):
            raise RuntimeError("xxhash64 id collisions")
        return vertices, edges, nv, ne

    def check_ingest(r) -> str | None:
        bad = oracle.check_ids(r[0].select("id").toPandas()["id"].to_numpy(), ids)
        return bad or oracle.check_edges(r[1].toPandas(), exp["directed"])

    vertices, edges, n_pages, n_edges = p.op("sources", ingest, check_ingest)
    p.records[-1].counts.update(pages=n_pages, edges=n_edges)
    verts = vertices.select("id")

    def build():
        canon, _ = p.force(_canon(edges))
        sym, _ = p.force(symmetrize(canon, dedup=False))
        deg, _ = p.force(degrees(sym))
        dag, _ = p.force(build_dag(canon, deg))
        return canon, sym, deg, dag

    canon, sym, _, dag = p.op("graph", build, lambda r: _check_graph(r[0], r[2], r[3], exp))

    def run_pr():
        res = pagerank(edges, verts, tol=PR_TOL, max_iter=PR_MAX_ITER, checkpointer=p.ckpt("pagerank"))
        ranks, _ = p.force(res.ranks)
        return res, ranks

    res, ranks = p.op("pagerank", run_pr, lambda r: oracle.check_ranks(r[1].toPandas(), ids, exp["pr"]))
    table = os.path.join(p.work, "out", "pagerank")

    def sink():
        meta = {"iterations": res.iterations, "converged": res.converged}
        return write_snapshot(ranks, table, key_col="id", metrics=meta)

    def check_sink(snap_id) -> str | None:
        rows = read_manifest(table, snap_id)["row_count"]
        return None if rows == len(ids) else f"snapshot holds {rows} rows, not {len(ids)}"

    p.op("sinks", sink, check_sink)
    p.records[-1].counts["bytes"] = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(table) for f in fs
    )

    def run_cc():
        return p.force(connected_components(edges, verts, checkpointer=p.ckpt("components")))[0]

    p.op("components", run_cc, lambda cc: oracle.check_labels(cc.toPandas(), "component", ids, exp["cc"]))

    def run_lp():
        res = label_propagation(sym, verts, n_iter=CRAWL_LP_ITER, checkpointer=p.ckpt("labelprop"), until_stable=True)
        return p.force(res.labels)[0]

    p.op("labelprop", run_lp, lambda lp: oracle.check_labels(lp.toPandas(), "label", ids, exp["lp"]))

    def run_tc():
        total = int(triangle_count(dag).collect()[0]["n_triangles"])
        return total, p.force(per_edge_triangles(canon, dag))[0]

    total, _ = p.op(
        "triangles",
        run_tc,
        lambda r: oracle.check_triangles(r[0], r[1].toPandas(), int(exp["tri_total"]), exp["tri_edges"]),
    )
    p.records[-1].counts["count"] = total


def _load(p: Pass, arrays: dict) -> dict:
    def load():
        return {
            k: p.force(p.spark.createDataFrame(pd.DataFrame(a, columns=["src", "dst"])))[0]
            for k, a in arrays.items()
        }

    def check(dfs) -> str | None:
        for k, df in dfs.items():
            bad = oracle.check_edges(df.toPandas(), arrays[k])
            if bad:
                return f"{k}: {bad}"
        return None

    dfs = p.op("sources", load, check)
    p.records[-1].counts.update(pages=0, edges=sum(len(a) for a in arrays.values()))
    return dfs


def pattern_pass(p: Pass, inp: dict, exp: dict) -> None:
    """4-edge FSM on the sparse graph, pentagon count on the denser one."""
    from graphminer_spark.algorithms.fsm_general import fsm_4edge_support
    from graphminer_spark.algorithms.subgraph import SGL_PATTERNS, count_matches
    from graphminer_spark.graph.build import degrees, symmetrize
    from graphminer_spark.graph.labels import with_synthetic_labels

    dfs = _load(p, {"fsm": inp["fsm"], "pent": inp["pent"]})

    def build():
        sym_f, _ = p.force(symmetrize(_canon(dfs["fsm"]), dedup=False))
        labeled, _ = p.force(with_synthetic_labels(degrees(sym_f).select("id")))
        sym_p, _ = p.force(symmetrize(_canon(dfs["pent"]), dedup=False))
        return sym_f, labeled, sym_p

    def check_build(r) -> str | None:
        for df, arr in ((r[0], inp["fsm"]), (r[2], inp["pent"])):
            c = inputs.canonical(arr)
            bad = oracle.check_edges(df.toPandas(), np.concatenate([c, c[:, ::-1]]))
            if bad:
                return "symmetric " + bad
        lab = r[1].toPandas().sort_values("id")
        bad = oracle.check_ids(lab["id"].to_numpy(), np.unique(inputs.canonical(inp["fsm"])))
        if bad:
            return "labeled " + bad
        return None if (lab["vlabel"] == lab["id"] % inputs.LABEL_CLASSES).all() else "labels differ"

    sym_f, labeled, sym_p = p.op("graph", build, check_build)
    stats = p.fsm_stats if p.traced else None

    def fsm():
        return fsm_4edge_support(sym_f, labeled, minsup_fn=fsm_minsup, stats=stats).toPandas()

    p.op("fsm_general", fsm, lambda rows: oracle.check_fsm(rows, exp["fsm_shape"], exp["fsm_vals"]))

    def pent():
        return int(count_matches(sym_p, SGL_PATTERNS["pentagon"]).collect()[0][0])

    p.op(
        "subgraph",
        pent,
        lambda c: None if c == int(exp["pentagons"]) else f"{c} pentagons, {int(exp['pentagons'])} expected",
    )


PASSES = {
    "crawl_linkgraph": crawl_pass,
    "pattern_mining": pattern_pass,
}
