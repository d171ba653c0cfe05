"""Best-of-N repetition scaling evidence for TC, CC, PageRank, LP and
Louvain.

Single runs on this host carry up to ±40% hypervisor noise plus a
cold-JIT penalty (see BENCH/BASELINE.md measurement notes), so the
round-1 verdict asked for the PageRank repetition protocol to cover
the suite: run each algorithm R times inside ONE session per executor
level (warm JIT from rep 2), take the best repetition at each level —
the same treatment on both sides — and report
``eff = best_N / (ratio * best_4N)``.

Usage: ``python BENCH/scaling_reps.py`` (~15-25 min; rewrites the
repetition section of ``BENCH/BASELINE.md`` and the raw JSON at
``BENCH/scaling_reps.json``).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EXEC_JVM = "-XX:+AlwaysPreTouch -XX:+UseParallelGC"

WORKER = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
from graphminer_spark.session import get_spark
from graphminer_spark.graph.synthetic import synthetic_edges
from graphminer_spark.graph.build import build_dag, degrees, symmetrize
from graphminer_spark.algorithms.triangles import triangle_count
from graphminer_spark.algorithms.components import connected_components
from graphminer_spark.algorithms.pagerank import pagerank
from graphminer_spark.algorithms.labelprop import label_propagation
from graphminer_spark.algorithms.community import louvain_one_level

n_exec = %(n_exec)d
spark = get_spark(
    "scaling-reps",
    master=f"local-cluster[{n_exec},2,9216]",
    shuffle_partitions=n_exec * 4,
    extra_conf={
        "spark.executor.memory": "8g",
        "spark.executor.extraJavaOptions": %(jvm)r,
        "spark.executorEnv.PYTHONPATH": %(repo)r,
    },
)
REPS = %(reps)d
out = {"executors": n_exec, "reps": {}}

# --- fixtures (built once, persisted; not part of the timed reps)
tc_edges = synthetic_edges(spark, %(tc_edges)d, %(tc_verts)d,
                           partitions=n_exec * 8).persist()
tc_edges.count()
dag = build_dag(tc_edges).persist(); dag.count()
cc_edges = synthetic_edges(spark, %(cc_edges)d, %(cc_verts)d,
                           partitions=n_exec * 8).persist()
cc_edges.count()
sym = symmetrize(cc_edges, dedup=False).persist(); m2 = sym.count()
verts = degrees(sym).select("id").persist(); verts.count()

def rep(name, fn):
    ts = []
    for _ in range(REPS):
        t0 = time.monotonic(); fn(); ts.append(round(time.monotonic() - t0, 2))
    out["reps"][name] = ts

rep("tc_total", lambda: triangle_count(dag).collect())
rep("cc", lambda: connected_components(cc_edges, verts).count())
rep("pagerank_6iter", lambda: pagerank(sym, verts, tol=0.0, max_iter=6))
rep("lp_4iter", lambda: label_propagation(sym, verts, n_iter=4).labels.count())
rep("louvain_2rounds", lambda: louvain_one_level(sym, n_rounds=2).count())
out["pr_edges_per_superstep"] = m2
print("REPS_JSON:" + json.dumps(out))
spark.stop()
"""


def run_level(n_exec: int, reps: int, cfg: dict) -> dict:
    code = WORKER % {
        "repo": REPO, "n_exec": n_exec, "jvm": EXEC_JVM, "reps": reps, **cfg
    }
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="8g")
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        env=env, check=True,
    )
    for line in out.stdout.splitlines():
        if line.startswith("REPS_JSON:"):
            return json.loads(line[len("REPS_JSON:"):])
    raise RuntimeError(f"no result line; stderr tail: {out.stderr[-2000:]}")


def main() -> None:
    lo, hi = (
        int(x)
        for x in os.environ.get("SPARK_GRAFT_SCALE_EXECUTORS", "1,4").split(",")
    )
    reps = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "3"))
    cfg = {
        "tc_edges": int(os.environ.get("SPARK_GRAFT_TC_EDGES", 8_000_000)),
        "tc_verts": 200_000,
        "cc_edges": int(os.environ.get("SPARK_GRAFT_CC_EDGES", 24_000_000)),
        "cc_verts": 600_000,
    }
    ratio = hi / lo
    results = {c: run_level(c, reps, cfg) for c in (lo, hi)}
    md = [
        "",
        "## Suite repetition protocol (best-of-N, warm JIT) — TC / CC / PR / LP / Louvain",
        "",
        f"Each algorithm repeated {reps}× inside one session per level "
        "(rep 1 is cold-JIT/cold-cache), best repetition compared — the "
        "same treatment both sides. TC graph: "
        f"{cfg['tc_edges']:,} edges / {cfg['tc_verts']:,} vertices "
        "(degree-ordered DAG prebuilt+persisted, as in a real pipeline); "
        f"CC/PR graph: {cfg['cc_edges']:,} edges / {cfg['cc_verts']:,} "
        "vertices, Zipf-skewed.",
        "",
        f"| algorithm | {lo}-exec reps (s) | {hi}-exec reps (s) | "
        "best ratio | scaling eff |",
        "|---|---|---|---:|---:|",
    ]
    effs = {}
    for name in results[lo]["reps"]:
        r_lo, r_hi = results[lo]["reps"][name], results[hi]["reps"][name]
        b_lo, b_hi = min(r_lo), min(r_hi)
        eff = (b_lo / b_hi) / ratio
        effs[name] = round(eff, 2)
        md.append(
            f"| {name} | {', '.join(map(str, r_lo))} | "
            f"{', '.join(map(str, r_hi))} | {b_lo / b_hi:.2f}x | {eff:.2f} |"
        )
    md.append("")
    md.append(
        "Efficiencies ≥ 0.8 meet the north-rule criterion; values are "
        "best-of-N at BOTH levels so JIT/cache warmup and hypervisor "
        "noise cannot favor either side."
    )
    with open(os.path.join(REPO, "BENCH", "scaling_reps.json"), "w") as f:
        json.dump({"levels": results, "efficiency": effs}, f, indent=2)
    # NEVER edits BENCH/BASELINE.md: session tables are merged into the
    # curated cross-session record by hand (a blind truncate-rewrite
    # once deleted the A-F history). The markdown goes to a sidecar.
    with open(os.path.join(REPO, "BENCH", "scaling_reps_latest.md"), "w") as f:
        f.write("\n".join(md) + "\n")
    print("\n".join(md))


if __name__ == "__main__":
    main()
