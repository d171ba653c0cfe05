"""Superstep checkpointing with per-partition lineage and metrics.

Iterative DataFrame programs grow their lineage (logical plan) every
superstep; without truncation the plan explodes and the driver OOMs —
a failure mode the reference never faces (it mutates in-place arrays,
``src/common/graph.cc``). Every single-state iterative algorithm here
runs its loop through :func:`run_supersteps`, which routes the state
through a :class:`CheckpointManager`:

* ``run_supersteps(ckpt, algo, state, step, aggs, stop, ...)`` owns the
  loop: the default manager, AQE gating (``superstep_planning``), the
  iteration-0 save, one ``save_and_agg`` per superstep, the stop test
  and the freeing of the loop's own superseded states. An algorithm
  supplies only its step function, its aggregates and its stop
  predicate.
* ``save(state, iteration, metrics)`` writes the state DataFrame to
  ``{dir}/iter=NNNNNN`` as parquet, appends a JSON line to
  ``metrics.jsonl`` carrying the convergence metric *and* per-partition
  lineage (partition → row count), then returns a fresh DataFrame read
  back from disk (lineage cut to one scan).
* ``save_and_agg(state, iteration, metrics, aggs)`` does the same and
  computes the superstep's aggregates in the materializing action
  (LMFAO's fused aggregates, SIGMOD'19); they join ``metrics`` in the
  superstep's one record.
* ``latest()`` finds the newest checkpoint so a killed PageRank run
  resumes at iteration k+1 instead of restarting.

In local mode this is plain parquet; on a cluster the same layout
lands on HDFS/S3/Iceberg (path-addressed, atomic via directory commit).
Supersteps off the durable cadence (and every superstep of a manager
without ``base_dir``) cut lineage with ``localCheckpoint`` instead.
"""

from __future__ import annotations

import json
import logging
import os
import threading
import time
from contextlib import contextmanager
from decimal import Decimal
from typing import Callable

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)

# Below this edge count, AQE's per-action re-planning latency dominates
# a superstep (measured: PageRank at 600k edges runs ~25% faster with
# AQE off — 9.6 s vs 12.7 s best-of-3 at sf0.1); above it, runtime
# coalescing/skew handling pays for the planning cost many times over.
SUPERSTEP_AQE_MIN_EDGES = 50_000_000

# serializes AQE-gated superstep loops within one driver process so
# overlapping loops cannot restore each other's stale conf value;
# re-entrant because SCC runs its gated fixpoints inside its gated peel
_AQE_GATE_LOCK = threading.RLock()


def _json_scalar(o):
    """JSON form of aggregate values ``json`` does not know: exact
    ``decimal`` sums (e.g. CC's decimal(38,0) hash fingerprints)."""
    if isinstance(o, Decimal):
        return int(o) if o == o.to_integral_value() else float(o)
    raise TypeError(f"{type(o).__name__} is not JSON serializable")


@contextmanager
def superstep_planning(spark: SparkSession, n_edges: int):
    """Cost-based AQE gating for iterative superstep loops: on small
    graphs the fixed driver-side re-plan per action outweighs any
    runtime optimization of sub-second stages, so AQE is disabled for
    the loop and restored after; at web scale (≥ 50M edges) supersteps
    are seconds-to-minutes and AQE stays on — the same
    measure-then-gate treatment as the query pipeline's skew-gated
    filter stage (``subgraph.FILTER_MIN_SKEW``).

    NOTE: mutates session-level SQL conf for the duration (restored in
    a finally). Gated loops are SERIALIZED per process by a module
    lock (ADVICE r04): two overlapping loops on one session could
    otherwise restore each other's stale value, and a concurrent
    non-loop query would silently lose AQE mid-flight. The lock covers
    the in-repo threat (threaded drivers, streaming queries kicked off
    between supersteps of two algorithms); cross-process sessions are
    independent Spark confs and need nothing."""
    if n_edges >= SUPERSTEP_AQE_MIN_EDGES:
        yield
        return
    with _AQE_GATE_LOCK:
        old = spark.conf.get("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            yield
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", old)


class CheckpointManager:
    def __init__(self, base_dir: str | None, every: int = 5):
        """``base_dir=None`` disables durable checkpoints: every
        superstep cuts its lineage with ``localCheckpoint``. ``every`` =
        durable checkpoint cadence in supersteps; the supersteps between
        durable ones still cut lineage locally. A manager keeps no
        states: :func:`run_supersteps` frees each loop's superseded
        states itself, so loops may share or nest on one manager."""
        self.base_dir = base_dir
        self.every = max(1, every)
        # (record, byte offset) of the last metrics line written
        self._last: tuple[dict, int] | None = None
        if base_dir:
            os.makedirs(base_dir, exist_ok=True)

    # ------------------------------------------------------------ paths
    def _iter_dir(self, iteration: int) -> str:
        assert self.base_dir is not None
        return os.path.join(self.base_dir, f"iter={iteration:06d}")

    def _metrics_path(self) -> str:
        assert self.base_dir is not None
        return os.path.join(self.base_dir, "metrics.jsonl")

    # ------------------------------------------------------------- save
    def _durable(self, iteration: int, force: bool) -> bool:
        """Single source of truth for the durable-checkpoint cadence
        (shared by save, save_and_agg and :func:`run_supersteps`'s
        release of local states, so they can never drift)."""
        return self.base_dir is not None and (force or iteration % self.every == 0)

    def _write(self, state: DataFrame, iteration: int) -> tuple[DataFrame, dict]:
        """Durable commit: write ``state`` as parquet, read it back
        (lineage cut to one scan) and describe the checkpoint."""
        path = self._iter_dir(iteration)
        state.write.mode("overwrite").parquet(path)
        out = state.sparkSession.read.parquet(path)
        lineage = [
            {"partition": int(r["p"]), "rows": int(r["rows"])}
            for r in out.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.count("*").alias("rows"))
            .collect()
        ]
        # column layout of the saved state (ADVICE r04): a consumer
        # resuming a directory written by an older code era detects
        # schema drift from the meta instead of misreading positional
        # columns (e.g. hits' r03 (id, hub, auth) -> r04 (id, auth,
        # h_raw) change)
        return out, {"checkpoint": path, "layout": list(state.columns), "partitions": lineage}

    def _record(self, iteration: int, fields: dict) -> None:
        """Append the superstep's one metrics record. A re-save of the
        iteration recorded last (the forced final checkpoint of a loop
        that stopped between durable saves) amends that record instead
        of appending a second one."""
        if self.base_dir is None:
            return
        rec = {"iteration": iteration, "ts": time.time(), **fields}
        with open(self._metrics_path(), "a") as f:
            if self._last is not None and self._last[0]["iteration"] == iteration:
                prev, off = self._last
                rec = {**prev, **rec}
                f.truncate(off)
            f.seek(0, os.SEEK_END)
            off = f.tell()
            f.write(json.dumps(rec, default=_json_scalar) + "\n")
        self._last = (rec, off)

    def save(
        self,
        state: DataFrame,
        iteration: int,
        metrics: dict[str, float | int | str],
        force: bool = False,
    ) -> DataFrame:
        """Persist state if due, log metrics, return the state
        DataFrame with its lineage cut."""
        if self._durable(iteration, force):
            out, meta = self._write(state, iteration)
        else:
            # cut lineage every superstep — plans re-analyze whole
            # iteration chains otherwise (measured 5-18× slower with
            # cache-only truncation every 5 steps)
            out, meta = state.localCheckpoint(eager=True), {}
        self._record(iteration, {**meta, **metrics})
        return out

    def save_and_agg(
        self,
        state: DataFrame,
        iteration: int,
        metrics: dict[str, float | int | str],
        aggs: list,
        force: bool = False,
    ):
        """Materialize ``state`` AND compute aggregate scalars in ONE
        driver action: ``(state', Row)``. The aggregate row joins
        ``metrics`` in the superstep's single metrics record.

        Non-durable supersteps mark the state with a *lazy*
        ``localCheckpoint`` and run the aggregate on it — the aggregate
        job materializes the checkpoint blocks as a side effect, so the
        superstep costs one barrier instead of save-then-collect's two.
        Durable supersteps write parquet (itself the materializing
        action) and run the aggregate as a cheap scan of the freshly
        written files.
        """
        if self._durable(iteration, force):
            out, meta = self._write(state, iteration)
            row = out.agg(*aggs).collect()[0]
        else:
            out, meta = state.localCheckpoint(eager=False), {}
            row = out.agg(*aggs).collect()[0]
        self._record(iteration, {**meta, **metrics, **row.asDict()})
        return out, row

    # ----------------------------------------------------------- resume
    def latest(self, spark: SparkSession) -> tuple[int, DataFrame] | None:
        """Newest durable checkpoint as ``(iteration, state)`` or None."""
        if self.base_dir is None or not os.path.isdir(self.base_dir):
            return None
        iters = sorted(
            int(d.split("=")[1])
            for d in os.listdir(self.base_dir)
            if d.startswith("iter=")
            and os.path.exists(os.path.join(self.base_dir, d, "_SUCCESS"))
        )
        if not iters:
            return None
        k = iters[-1]
        return k, spark.read.parquet(self._iter_dir(k))

    def metrics(self) -> list[dict]:
        if self.base_dir is None:
            return []
        path = self._metrics_path()
        if not os.path.exists(path):
            return []
        with open(path) as f:
            return [json.loads(line) for line in f if line.strip()]


def _release(old: DataFrame, warned: bool) -> bool:
    """Free the blocks of ``old``, a loop's superseded localCheckpoint
    state (unpersisting one is irreversible: its lineage is cut, so a
    late reader fails instead of recomputing). Returns ``warned`` for
    the next call: the loop logs its first failed release only."""
    try:
        # only a checkpoint's own LogicalRDD is ours to free; any other
        # plan would unpersist some RDD the caller may hold
        plan = old._jdf.queryExecution().analyzed()
        kind = plan.getClass().getSimpleName()
        if kind != "LogicalRDD":
            raise TypeError(f"superseded state is a {kind}, not a LogicalRDD")
        # SparkContext.unpersistRDD frees the same blocks as
        # RDD.unpersist without its WARN line, which that method prints
        # for every locally checkpointed RDD
        sc = old.sparkSession.sparkContext
        sc._jsc.sc().unpersistRDD(plan.rdd().id(), False)
    except Exception as e:  # bookkeeping never breaks the algorithm
        if not warned:
            _log.warning(
                "run_supersteps: unpersist of a superseded state failed "
                "(%s); further failures of this loop are not logged and "
                "their blocks stay cached", e, exc_info=True,
            )
        return True
    return warned


def run_supersteps(
    checkpointer: CheckpointManager | None,
    algo: str,
    state: DataFrame,
    step: Callable[[DataFrame, int, Row | None], DataFrame],
    aggs: list,
    stop: Callable[[Row | None, Row | None], bool] | None,
    max_iter: int,
    n_edges: int | Callable[[Row | None], int],
    init_aggs: list | None = None,
    start: int = 0,
    final_save: bool = False,
) -> tuple[DataFrame, Row | None, list[Row | None], int, bool]:
    """Run one single-state superstep loop →
    ``(state, last_row, rows, iterations, converged)``.

    At ``start == 0`` the start ``state`` is saved as iteration 0, with
    ``save_and_agg(init_aggs)`` when ``init_aggs`` is given and ``save``
    otherwise; a resumed state (``start = k``) is already committed and
    only runs ``init_aggs``. Superstep ``it`` then commits
    ``step(state, it, prev_row)`` — ``prev_row`` is the previous
    superstep's aggregate row — in ONE ``save_and_agg(aggs)`` action
    (``save`` when ``aggs`` is empty, and its row is None). The loop
    converges when ``stop(row, prev_row)`` holds and otherwise ends after
    ``max_iter``; ``rows`` holds the start state's row (None without
    ``init_aggs``), then every superstep's. ``final_save`` also commits
    the last state durably when it fell between durable saves, so a
    killed run can resume from it (PageRank's contract).

    ``n_edges`` gates AQE for the loop (:func:`superstep_planning`); it
    may be a function of the iteration-0 row when that row counts the
    edges.

    The loop frees each localCheckpoint state it committed once it is
    TWO commits old: state_t is built from state_{t-1} only, so nothing
    reads a state two generations back once state_{t+2} is materialized.
    Without this a long session keeps every superseded state in the
    block manager until the Python GC and the ContextCleaner catch up
    (measured as a 30-50% slowdown of late-suite queries). Only the
    loop's own commits are freed, so the returned state and its
    predecessor outlive it, and loops sharing or nesting on one manager
    never free each other's states."""
    ckpt = checkpointer or CheckpointManager(None)
    meta = {"algo": algo}
    chain: list[DataFrame] = []  # this loop's localCheckpoint commits
    warned = False

    def commit(new: DataFrame, it: int, fused: list | None):
        nonlocal warned
        local = not ckpt._durable(it, False)
        if fused:
            out, row = ckpt.save_and_agg(new, it, meta, fused)
        else:
            out, row = ckpt.save(new, it, meta), None
        if local:
            chain.append(out)
            if len(chain) > 2:
                warned = _release(chain.pop(0), warned)
        return out, row

    if start:
        row = state.agg(*init_aggs).collect()[0] if init_aggs else None
    else:
        state, row = commit(state, 0, init_aggs)
    if callable(n_edges):
        n_edges = n_edges(row)
    rows: list[Row | None] = [row]
    converged = False
    it = start
    with superstep_planning(state.sparkSession, n_edges):
        for it in range(start + 1, max_iter + 1):
            prev = row
            state, row = commit(step(state, it, row), it, aggs)
            rows.append(row)
            if stop is not None and stop(row, prev):
                converged = True
                break
        if final_save and ckpt.base_dir and it % ckpt.every != 0:
            # inside the gate like every save of the loop (with AQE on,
            # the lineage aggregate of the write runs as two jobs); a
            # same-iteration re-save would overwrite the path being
            # read, hence only off-cadence
            state = ckpt.save(state, it, {**meta, "final": True}, force=True)
    return state, row, rows, it, converged
