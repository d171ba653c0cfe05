"""Spans, the timed checkpoint manager and the Spark event-log reader.

Spans are recorded from the benchmark's side of each call into the
engine (workload -> operator -> checkpoint save), kept in memory and
written once at the end of a traced run. Spark-side counters come from
the event log of the traced run: one job group per operator call ties
jobs, stages and tasks back to the call that caused them.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

from graphminer_spark.checkpoint import CheckpointManager


class Tracer:
    """In-memory spans: ``{id, parent, name, start, end, attrs}`` with
    times in seconds since the tracer was created."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.t0 = time.monotonic()
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.monotonic() - self.t0,
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic() - self.t0

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"trace_id": self.trace_id, **extra, "spans": self.spans}, f, indent=1)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class TimedCheckpointManager(CheckpointManager):
    """``CheckpointManager`` that times every ``save`` / ``save_and_agg``.

    In the engine's superstep loops each of these calls is the one action
    that materializes a superstep's state, so its duration is the
    superstep time. Iteration 0 (the initial state) and the forced final
    save are recorded as saves but not as supersteps."""

    def __init__(self, tracer: Tracer, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.tracer = tracer
        self.saves = 0
        self.save_s = 0.0
        self.durable_bytes = 0
        self.superstep_ms: list[float] = []
        self._depth = 0

    @contextmanager
    def _timed(self, kind: str, iteration: int, metrics: dict, force: bool):
        outer = self._depth == 0
        durable = self._durable(iteration, force)
        self._depth += 1
        t0 = time.monotonic()
        try:
            if outer:
                with self.tracer.span(f"checkpoint.{kind}", iteration=iteration, durable=durable):
                    yield
            else:
                yield
        finally:
            self._depth -= 1
        if not outer:
            return
        dt = time.monotonic() - t0
        self.saves += 1
        self.save_s += dt
        if durable:
            self.durable_bytes += _dir_bytes(self._iter_dir(iteration))
        if iteration > 0 and not metrics.get("final"):
            self.superstep_ms.append(dt * 1000.0)

    def save(self, state, iteration, metrics, force=False):
        with self._timed("save", iteration, metrics, force):
            return super().save(state, iteration, metrics, force=force)

    def save_and_agg(self, state, iteration, metrics, aggs, force=False):
        with self._timed("save_and_agg", iteration, metrics, force):
            return super().save_and_agg(state, iteration, metrics, aggs, force=force)


# -------------------------------------------------------------- event log

# Spark SQL metrics of the Python-worker exchange (PythonSQLMetrics);
# Spark records its bytes and time, not its rows
PYTHON_METRICS = {
    "data sent to Python workers": ("arrow_bytes_sent", 1),
    "data returned from Python workers": ("arrow_bytes_received", 1),
    "time to run Python workers": ("python_run_s", 1e-3),
}
WARMUP_DESCRIPTION = "session warmup (JIT)"


def read_event_log(path: str):
    """Events of a JSON-lines Spark event log, one at a time."""
    with open(path) as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def group_counters(events, walls: dict[str, float]) -> dict:
    """Spark counters per job group.

    ``walls`` maps each job group to the wall time of its call, for
    ``driver_gap_s``: the call's wall time minus the union of its jobs'
    intervals (Python, Py4J, planning and scheduling between jobs)."""
    job_group: dict[int, str] = {}
    job_span: dict[int, list[float]] = {}
    stage_group: dict[int, str] = {}
    warmup_jobs = 0
    stage_tasks: dict[int, list[float]] = {}
    out: dict[str, dict] = {
        g: {
            "jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
            "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0, "spill_bytes": 0, "task_skew_max": 0.0,
            "arrow_bytes_sent": 0, "arrow_bytes_received": 0,
            "python_run_s": 0.0,
        }
        for g in walls
    }
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            if props.get("spark.job.description") == WARMUP_DESCRIPTION:
                warmup_jobs += 1
            g = props.get("spark.jobGroup.id")
            if g in out:
                job_group[ev["Job ID"]] = g
                job_span[ev["Job ID"]] = [ev["Submission Time"] / 1000.0, None]
                out[g]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_span:
            job_span[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_group:
            g = out[stage_group[ev["Stage ID"]]]
            m = ev.get("Task Metrics") or {}
            info = ev["Task Info"]
            g["tasks"] += 1
            g["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            stage_tasks.setdefault(ev["Stage ID"], []).append(
                (info["Finish Time"] - info["Launch Time"]) / 1e3
            )
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            g = stage_group.get(info["Stage ID"])
            if g is None:
                continue
            out[g]["stages"] += 1
            for acc in info.get("Accumulables", []):
                if acc.get("Name") in PYTHON_METRICS:
                    key, scale = PYTHON_METRICS[acc["Name"]]
                    out[g][key] += int(acc.get("Value", 0)) * scale
    for sid, durs in stage_tasks.items():
        if len(durs) >= 2:
            med = statistics.median(durs)
            skew = max(durs) / med if med > 0 else 1.0
            g = out[stage_group[sid]]
            g["task_skew_max"] = max(g["task_skew_max"], skew)
    for g, wall in walls.items():
        spans = [tuple(s) for j, s in job_span.items() if job_group[j] == g and s[1] is not None]
        out[g]["driver_gap_s"] = max(0.0, wall - _union_s(spans))
    return {"warmup_jobs": warmup_jobs, "groups": out}
