"""Capture ``.explain("formatted")`` evidence for the round-6 plan claims.

Usage::

    PYTHONPATH=<tree> python plans/r06/capture.py <outdir> <suffix>

Run once with the round-start tree on PYTHONPATH (``suffix=before``) and
once with the optimized tree (``suffix=after``); the files land as
``<outdir>/<query>_<suffix>.txt``.

Loop superstep plans are captured by patching the checkpoint layer: each
``save``/``save_and_agg`` (and ``materialize_with_agg`` on trees that
still have it) dumps the incoming state's formatted plan under the
active tag, and the LAST dump per tag (the steady-state superstep,
where partition-reuse is visible) is kept.
Non-loop queries are explained directly.
"""

import os
import sys

sys.path.insert(0, os.environ.get("CAPTURE_TREE", "/root/repo"))

outdir, suffix = sys.argv[1], sys.argv[2]
os.makedirs(outdir, exist_ok=True)

from pyspark.sql import functions as F  # noqa: E402

import graphminer_spark.checkpoint as cp  # noqa: E402
from graphminer_spark.session import get_spark  # noqa: E402

_tag = {"cur": None}
_last: dict[str, str] = {}


def _formatted(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def _record(state):
    if _tag["cur"] is not None:
        try:
            _last[_tag["cur"]] = _formatted(state)
        except Exception as e:  # pragma: no cover
            _last[_tag["cur"]] = f"capture failed: {e}"


_orig_save = cp.CheckpointManager.save
_orig_sagg = cp.CheckpointManager.save_and_agg
# trees before checkpoint.run_supersteps had a third entry point
_orig_mwa = getattr(cp, "materialize_with_agg", None)


def _save(self, state, iteration, metrics, force=False):
    _record(state)
    return _orig_save(self, state, iteration, metrics, force)


def _sagg(self, state, iteration, metrics, aggs, force=False):
    _record(state)
    return _orig_sagg(self, state, iteration, metrics, aggs, force)


def _mwa(state, *aggs):
    _record(state)
    return _orig_mwa(state, *aggs)


cp.CheckpointManager.save = _save
cp.CheckpointManager.save_and_agg = _sagg
if _orig_mwa is not None:
    cp.materialize_with_agg = _mwa
    # algorithms that did `from ... import materialize_with_agg` at module load
    for modname in ("coloring", "hits"):
        try:
            mod = __import__(
                f"graphminer_spark.algorithms.{modname}", fromlist=[modname]
            )
            if hasattr(mod, "materialize_with_agg"):
                mod.materialize_with_agg = _mwa
        except Exception:
            pass

from graphminer_spark.algorithms.coloring import greedy_coloring  # noqa: E402
from graphminer_spark.algorithms.community import louvain_one_level  # noqa: E402
from graphminer_spark.algorithms.hits import salsa  # noqa: E402
from graphminer_spark.algorithms.kcore import core_numbers_hindex  # noqa: E402
from graphminer_spark.algorithms.labelprop import label_propagation  # noqa: E402
from graphminer_spark.algorithms.ktruss import ktruss  # noqa: E402
from graphminer_spark.algorithms.pagerank import pagerank  # noqa: E402
from graphminer_spark.algorithms.scc import (  # noqa: E402
    hash_orient,
    strongly_connected_components,
)
from graphminer_spark.algorithms.sssp import sssp  # noqa: E402
from graphminer_spark.algorithms.subgraph import (  # noqa: E402
    SGL_PATTERNS,
    count_matches,
)
from graphminer_spark.algorithms.triangles import triangle_count  # noqa: E402
from graphminer_spark.graph.build import build_dag, degrees, symmetrize  # noqa: E402
from graphminer_spark.graph.tpch_edges import tpch_edges  # noqa: E402

os.environ.setdefault("SPARK_GRAFT_WARMUP_S", "0")
sf_dir = "/root/testdata/sf0.1"
spark = get_spark("plan-capture", cores=8, shuffle_partitions=8)

edges = tpch_edges(spark, sf_dir).persist()
edges.count()
verts = degrees(symmetrize(edges, dedup=False)).select("id").persist()
verts.count()
e_sp = tpch_edges(spark, sf_dir, divisor=6, sample_mod=8)
sym_sp = symmetrize(e_sp, dedup=False)


def tagged(tag, fn):
    _tag["cur"] = tag
    try:
        fn()
    except Exception as e:
        _last.setdefault(tag, f"run failed: {e}")
    _tag["cur"] = None


tagged("pagerank", lambda: pagerank(edges, verts, tol=1e-6, max_iter=4))
tagged("lp_4iter", lambda: label_propagation(symmetrize(edges, dedup=False), verts, n_iter=3).labels.count())
tagged("salsa_5iter", lambda: salsa(edges, verts, n_iter=2).count())
tagged("louvain_4rounds", lambda: louvain_one_level(sym_sp, n_rounds=2).count())
tagged("coloring_jp", lambda: greedy_coloring(sym_sp, max_rounds=4))
tagged("coreness_hindex", lambda: core_numbers_hindex(sym_sp, max_iter=3).count())
tagged("sssp_weighted", lambda: sssp(sym_sp, source=0, max_iter=3).count())
tagged("scc_bowtie", lambda: strongly_connected_components(hash_orient(e_sp), max_outer=1).count())
tagged("ktruss_k4", lambda: ktruss(sym_sp, k=4, max_iter=2).count())

for tag, text in _last.items():
    with open(os.path.join(outdir, f"{tag}_{suffix}.txt"), "w") as f:
        f.write(text)

# direct (non-loop) plans
dag = build_dag(edges).persist()
dag.count()
direct = {
    "tc_total": triangle_count(dag),
    "sgl_pentagon": count_matches(
        symmetrize(tpch_edges(spark, sf_dir, divisor=6, scramble=True), dedup=False),
        SGL_PATTERNS["pentagon"],
    ),
}
for tag, df in direct.items():
    with open(os.path.join(outdir, f"{tag}_{suffix}.txt"), "w") as f:
        f.write(_formatted(df))

spark.stop()
print("captured:", sorted(set(list(_last) + list(direct))))
