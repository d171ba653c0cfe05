"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload crawl_linkgraph --seed 1 --seconds 10 --trace 0

Run from the repository root. The run builds the seeded input, computes
(or loads from its cache) the oracle's expected outputs, starts one Spark
driver at ``local[4]`` and repeats closed-loop passes over the workload
until ``--seconds`` have elapsed (at least one pass; a pass is never cut).
Every operator output is checked; ``failed`` counts operators that raised
or whose output disagreed with the oracle, out of ``attempted``.

``--trace 0`` prints the end-to-end metrics (medians over passes).
``--trace 1`` turns on Spark's event log and one job group per operator
call, prints the per-layer metrics and writes the run's spans to
``.perfbench_work/trace/``. Tracing overhead is the traced ``run_s``
(``bench.traced_run_s``) minus the untraced ``run_s`` of the same
workload; when an untraced run of the same workload and seed is recorded
in the work directory, the trace file and stderr report the difference.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

CORES = 4
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "2g"

E2E = {
    "setup_s": "s",
    "run_s": "s",
    "analytics_s": "s",
    "peak_rss_mb": "MB",
}
MODULES = ("sources", "graph", "pagerank", "components", "labelprop", "triangles", "fsm_general", "subgraph")
SPARK_COUNTERS = {
    "wall_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_bytes": "B",
    "shuffle_read_bytes": "B",
    "spill_bytes": "B",
    "task_skew_max": "ratio",
    "driver_gap_s": "s",
}
SUPERSTEP_MODULES = {"pagerank": "supersteps", "components": "rounds", "labelprop": "supersteps"}
PER_LAYER = {
    "session.warmup_jobs": "count",
    "sources.pages": "count",
    "sources.edges": "count",
    "sources.arrow_bytes_sent": "B",
    "sources.arrow_bytes_received": "B",
    "sources.python_run_s": "s",
    **{f"{m}.{c}": u for m in MODULES for c, u in SPARK_COUNTERS.items()},
    **{
        k: u
        for m, steps in SUPERSTEP_MODULES.items()
        for k, u in ((f"{m}.{steps}", "count"), (f"{m}.superstep_ms_median", "ms"), (f"{m}.superstep_ms_max", "ms"))
    },
    "triangles.count": "count",
    **{f"fsm_general.level{i}_embeddings": "count" for i in range(1, 5)},
    "checkpoint.saves": "count",
    "checkpoint.save_s": "s",
    "checkpoint.durable_bytes": "B",
    "checkpoint.persistent_rdds": "count",
    "sinks.write_s": "s",
    "sinks.bytes": "B",
    "bench.traced_run_s": "s",
}
WORKLOADS = ("crawl_linkgraph", "pattern_mining")


def _prepare_environment() -> None:
    """Keep every file the run writes inside the checkout, and let the
    library's own defaults apply except for the settings passed below."""
    if not os.path.isfile(os.path.join(ROOT, "graphminer_spark", "session.py")):
        sys.exit(f"perfbench: no graphminer_spark package under {ROOT}; run from a full checkout")
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # spark-submit's launcher JVM, which builds the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Python workers import the package (UDF closures pickle by reference)
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)


def _spark_conf(traced: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # initial heap = max heap: G1 then never resizes it, so peak RSS
        # follows the work instead of the run's GC ergonomics
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if traced:
        os.makedirs(os.path.join(WORK, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _stop(spark) -> None:
    """Stop the session, its JVM and (with the JVM) the Python workers,
    and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _wall_by_module(p) -> dict[str, float]:
    by_mod: dict[str, float] = {}
    for r in p.records:
        by_mod[r.module] = by_mod.get(r.module, 0.0) + r.wall_s
    return by_mod


def _pass_layer(p, wall: float, spark_stats: dict) -> dict[str, float]:
    """One traced pass's per-layer values."""
    out = dict.fromkeys(PER_LAYER, 0.0)
    for r in p.records:
        g = spark_stats.get(r.group, {})
        if r.module in MODULES:
            out[f"{r.module}.wall_s"] += r.wall_s
            for c in SPARK_COUNTERS.keys() & g.keys():
                key = f"{r.module}.{c}"
                out[key] = max(out[key], g[c]) if c == "task_skew_max" else out[key] + g[c]
        if r.module == "sources":
            for k in ("arrow_bytes_sent", "arrow_bytes_received", "python_run_s"):
                out[f"sources.{k}"] += g.get(k, 0)
        if r.module == "sinks":
            out["sinks.write_s"] += r.wall_s
        for k, v in r.counts.items():
            out[f"{r.module}.{k}"] = v
    for m, steps in SUPERSTEP_MODULES.items():
        ck = p.checkpointers.get(m)
        ms = ck.superstep_ms if ck else []
        out[f"{m}.{steps}"] = len(ms)
        out[f"{m}.superstep_ms_median"] = _median(ms)
        out[f"{m}.superstep_ms_max"] = max(ms, default=0.0)
    cks = p.checkpointers.values()
    out["checkpoint.saves"] = sum(c.saves for c in cks)
    out["checkpoint.save_s"] = sum(c.save_s for c in cks)
    out["checkpoint.durable_bytes"] = sum(c.durable_bytes for c in cks)
    out["checkpoint.persistent_rdds"] = max((r.persistent_rdds for r in p.records), default=0)
    for i in range(1, 5):
        out[f"fsm_general.level{i}_embeddings"] = p.fsm_stats.get(f"level{i}_embeddings", 0)
    out["bench.traced_run_s"] = wall
    return out


def _event_log_path() -> str:
    d = os.path.join(WORK, "eventlog")
    files = [os.path.join(d, f) for f in os.listdir(d) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {d}, found {len(files)}")
    return files[0]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    traced = bool(args.trace)

    _prepare_environment()
    for d in ("spark-local", "eventlog", "warehouse"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)

    import pyspark

    import workloads
    from tracing import Tracer, group_counters, read_event_log

    from graphminer_spark.session import get_spark

    inp = workloads.make_inputs(args.workload, args.seed)
    exp = workloads.expected(args.workload, args.seed, inp, os.path.join(WORK, "oracle"))
    tracer = Tracer(f"{args.workload}-seed{args.seed}-trace{args.trace}")

    t0 = time.monotonic()
    spark = get_spark("perfbench", cores=CORES, shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=_spark_conf(traced))
    setup_s = time.monotonic() - t0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    print(
        f"[perfbench] {args.workload} seed={args.seed} trace={args.trace} spark={pyspark.__version__} "
        f"java={spark.sparkContext._jvm.System.getProperty('java.version')} "
        f"python={sys.version.split()[0]} master=local[{CORES}] driver_memory={DRIVER_MEMORY}",
        file=sys.stderr,
    )

    run_pass = workloads.PASSES[args.workload]
    passes, pass_walls = [], []
    attempted = failed = 0
    try:
        start = time.monotonic()
        while not passes or time.monotonic() - start < args.seconds:
            p = workloads.Pass(spark, tracer, traced, WORK, len(passes))
            tp = time.monotonic()
            with tracer.span(args.workload, pass_index=len(passes)):
                try:
                    run_pass(p, inp, exp)
                except workloads.OpFailed:
                    pass
            pass_walls.append(time.monotonic() - tp)
            p.release()
            passes.append(p)
            n_ops = len(workloads.OPS[args.workload])
            attempted += n_ops
            failed += sum(1 for r in p.records if r.error) + n_ops - len(p.records)
            if failed:
                break
        peak_rss_mb = _vm_hwm_mb(jvm_pid)
    finally:
        _stop(spark)

    walls_by_module = [_wall_by_module(p) for p in passes]
    run_s = _median(pass_walls)
    if traced:
        walls = {r.group: r.wall_s for p in passes for r in p.records}
        stats = group_counters(read_event_log(_event_log_path()), walls)
        per_pass = [_pass_layer(p, w, stats["groups"]) for p, w in zip(passes, pass_walls)]
        layer = {k: _median([v[k] for v in per_pass]) for k in PER_LAYER}
        layer["session.warmup_jobs"] = stats["warmup_jobs"]
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
        extra = {"per_layer": layer, "spark_groups": stats["groups"]}
        ref_path = os.path.join(WORK, "runs", f"{args.workload}-seed{args.seed}.json")
        if os.path.exists(ref_path):
            with open(ref_path) as f:
                untraced = json.load(f)["run_s"]
            extra["tracing_overhead_s"] = run_s - untraced
            print(f"[perfbench] tracing overhead {run_s - untraced:+.3f} s on run_s {untraced:.3f} s", file=sys.stderr)
        tracer.write(os.path.join(WORK, "trace", f"{tracer.trace_id}.json"), extra)
    else:
        values = {
            "setup_s": setup_s,
            "run_s": run_s,
            "analytics_s": _median([sum(w.get(m, 0.0) for m in workloads.ANALYTICS) for w in walls_by_module]),
            "peak_rss_mb": peak_rss_mb,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in E2E.items()}
        os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
        with open(os.path.join(WORK, "runs", f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({**values, "by_module": walls_by_module}, f)

    for w in walls_by_module:
        print("[perfbench] pass " + " ".join(f"{m}={v:.3f}" for m, v in w.items()), file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    raise SystemExit(main())
