"""SparkSession factory with scale-appropriate defaults.

Local-mode testing stands in for a multi-executor cluster; every knob
here is chosen to also be correct at 1000-executor / 100 TB scale:

* AQE on (runtime shuffle-partition coalescing + skew-join splitting —
  the distributed analogue of the reference's ``schedule(dynamic,1)``
  and ``least_first`` edge scheduling, ``src/common/scheduler.cc``),
* Arrow enabled for every pandas-UDF boundary,
* UTC session timezone so results compare bit-for-bit against DuckDB
  oracles,
* shuffle partitions sized to cores locally; on a real cluster AQE
  coalesces from a deliberately-high initial number.
"""

from __future__ import annotations

import logging
import os
import time

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

DEFAULT_SHUFFLE_PARTITIONS = 32

# applicationIds already JIT-warmed by this process (get_spark uses
# getOrCreate, so repeated calls share one session — warm it once)
_WARMED_APP_IDS: set[str] = set()


def _jit_warmup(spark: SparkSession, budget_s: float) -> None:
    """Run a bounded loop of tiny synthetic jobs right after session
    creation so the JVM's C2 compiler sees the hot code paths (scan →
    shuffle-hash / sort-merge join → partial+final aggregation →
    localCheckpoint caching → result collection) BEFORE the first real
    query.

    Measured on this host (fresh process, OS cache warm, sf0.1): the
    first graph_build + PageRank-to-1e-6 pair costs 9.1 s + 19.3 s
    cold vs 3.7 s + 14.5 s after a 15 s warmup — interactive first-
    query latency drops by ~10 s because superstep latency is JIT-
    compile-bound early in a JVM's life, not compute-bound. The same
    effect exists on cluster executors (every executor JVM starts
    cold). The loop touches no input data and materializes nothing
    beyond throwaway 100k-row synthetic frames; ``SPARK_GRAFT_WARMUP_S``
    sets the wall budget (seconds, 0 disables)."""
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    deadline = time.monotonic() + budget_s
    sc.setJobDescription("session warmup (JIT)")
    i = 0
    try:
        # one tiny Arrow round-trip first: forks the Python workers and
        # compiles the Arrow serialization path, which the ingest /
        # multimodal operators otherwise pay on their first batch
        def _ident(it):
            for pdf in it:
                yield pdf

        spark.range(0, 1000, 1, 4).mapInPandas(_ident, "id long").count()
        while time.monotonic() < deadline:
            a = spark.range(0, 100_000, 1, 8).select(
                (F.col("id") % 1000).alias("k"),
                (F.col("id") * 3 + i).alias("v"),
            )
            b = spark.range(0, 1000, 1, 8).select(
                F.col("id").alias("k"), F.lit(1.0).alias("w")
            )
            joined = a.join(
                b.hint("shuffle_hash" if i % 2 == 0 else "merge"), "k"
            )
            st = (
                joined.groupBy("k")
                .agg(F.sum(F.col("v") * F.col("w")).alias("s"))
                .localCheckpoint(eager=False)
            )
            st.agg(F.sum("s").alias("t"), F.count("*").alias("n")).collect()
            i += 1
    finally:
        sc.setJobDescription(None)


def _host_defaults() -> tuple[int, str]:
    """``(cores, driver memory)`` that fit this host: every CPU, and a
    quarter of physical memory capped at 24g. A local session's
    executors live in the driver JVM, and its shuffle files go to
    ``/dev/shm``, which is RAM as well; the rest is for Python workers
    and the OS. At half of RAM (7680m on a 15 GB host) the kernel killed
    the JVM during the motif and pattern-count oracle queries."""
    quarter = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 4
    return os.cpu_count() or 1, f"{min(quarter, 24 << 30) >> 20}m"


def get_spark(
    app_name: str = "graphminer_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` controls the ``local[N]`` master locally; ``master``
    overrides it entirely (e.g. ``local-cluster[4,2,8192]`` for real
    multi-executor runs, or a cluster URL). Cores and driver memory
    default to the host's (:func:`_host_defaults`); the
    ``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM`` env vars
    override them.
    """
    host_cores, host_mem = _host_defaults()
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", host_cores))
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE", str(max(cores, DEFAULT_SHUFFLE_PARTITIONS)))
        )
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", host_mem))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # allow shuffled-hash join where its size conditions hold
        # instead of always sorting both sides (guide-recommended
        # baseline): the pattern-join wedge closes carry two multi-
        # million-row sides whose sorts are pure overhead — pentagon
        # best-of-3 7.8 s (SMJ) vs 6.0 s (SHJ) at sf0.1; the planner's
        # build-side size conditions and AQE skew splitting still apply
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # local mode: shuffle files on tmpfs, not the root disk — a
        # single-host stand-in for a cluster's node-local NVMe; without
        # this, multi-GB shuffles serialize on one spindle and core
        # scaling flatlines
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # one-time JIT warmup per application (see _jit_warmup): repeated
    # get_spark calls return the same session and must not re-pay it
    warmup_s = float(os.environ.get("SPARK_GRAFT_WARMUP_S", "10"))
    app_id = spark.sparkContext.applicationId
    if warmup_s > 0 and app_id not in _WARMED_APP_IDS:
        _WARMED_APP_IDS.add(app_id)
        try:
            _jit_warmup(spark, warmup_s)
        except Exception as e:  # a cold JIT is slower, never fatal
            _log.warning(
                "session JIT warm-up failed, continuing cold: %s", e, exc_info=True
            )
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
