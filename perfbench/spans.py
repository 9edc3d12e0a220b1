"""Traced run: spans around layer calls, and per-layer numbers from
Spark's own event log.

Spans are kept in memory. Each span sets a Spark job group named
after itself (and restores its parent's group on exit), so every job
in the event log belongs to exactly one span: the innermost open one.
A layer's ``wall_s`` is its self time (span duration minus the time
its child spans cover); its job counts, busy time, shuffle and spill
are those of its own jobs.

The program is only wrapped from outside: eager seams are swapped for
span-recording wrappers on the module objects the program looks them
up on, and restored afterwards. Nothing under ``scripts_spark``
changes.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
import uuid
from collections import defaultdict
from dataclasses import dataclass, field

UNTRACED = "perfbench.untraced"
LAYER_METRICS = [
    ("wall_s", "s"), ("busy_s", "s"), ("jobs", "count"), ("rows_out", "count"),
    ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("task_skew", "ratio"),
]


@dataclass
class Span:
    name: str
    parent: "Span | None"
    run_id: str
    start: float
    end: float = 0.0
    children: list["Span"] = field(default_factory=list)

    @property
    def self_s(self) -> float:
        return (self.end - self.start) - sum(c.end - c.start for c in self.children)


class Tracer:
    """In-memory span recorder bound to one SparkContext."""

    def __init__(self, sc):
        self.sc = sc
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        # time spent in span bookkeeping (incl. the job-group calls)
        self.overhead_s = 0.0

    def _group(self, name: str) -> str:
        return f"{self.run_id}:{name}"

    @contextlib.contextmanager
    def span(self, name: str):
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(name, parent, self.run_id, 0.0)
        if parent is not None:
            parent.children.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(self._group(name), name)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)
            self.sc.setJobGroup(
                self._group(parent.name if parent else UNTRACED), ""
            )
            self.overhead_s += time.perf_counter() - s.end

    @contextlib.contextmanager
    def untraced(self):
        """Jobs the benchmark itself runs (counts, materializations)
        inside an open span, kept out of that span's numbers."""
        prev = self._stack[-1].name if self._stack else UNTRACED
        self.sc.setJobGroup(self._group(UNTRACED), "")
        try:
            yield
        finally:
            self.sc.setJobGroup(self._group(prev), "")

    @contextlib.contextmanager
    def wrapped(self, owner, attr: str, name: str, after=None):
        """While open, ``owner.attr`` is a wrapper that runs the
        original inside span ``name``. ``after(result, args)`` runs
        after each call, outside the span, to take counts."""
        fn = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if after is not None:
                with self.untraced():
                    after(out, args)
            return out

        setattr(owner, attr, wrapper)
        try:
            yield
        finally:
            setattr(owner, attr, fn)


# SQL plan events carry the whole physical plan (curate's has over a
# thousand nodes) and are re-posted at every adaptive re-plan: left in,
# one traced curate_dedup run logs gigabytes. Only job starts and task
# ends are read.
_EXCLUDED_EVENTS = [
    "SparkListenerTaskStart",
    "SparkListenerStageSubmitted",
    "SparkListenerStageCompleted",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveSQLMetricUpdates",
    "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
]


def event_log_config(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.excludedPatterns": ",".join(_EXCLUDED_EVENTS),
        "spark.eventLog.includeTaskMetricsAccumulators": "false",
    }


def _read_events(log_dir: str):
    for fn in glob.glob(os.path.join(log_dir, "*")):
        with open(fn, encoding="utf-8") as f:
            for line in f:
                yield json.loads(line)


def layer_stats(log_dir: str, tracer: Tracer) -> dict[str, dict[str, float]]:
    """Per span name: jobs, busy_s (sum of executorRunTime),
    shuffle_write_mb, spill_mb, task_skew (max/median task run time
    of the span's largest stage by busy time) and self wall_s."""
    stage_group: dict[int, str] = {}
    task_ms: dict[int, list[int]] = defaultdict(list)
    per: dict[str, dict[str, float]] = defaultdict(
        lambda: {"jobs": 0, "busy_s": 0.0, "shuffle_write_mb": 0.0,
                 "spill_mb": 0.0}
    )
    prefix = tracer.run_id + ":"
    for e in _read_events(log_dir):
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id", "")
            if g.startswith(prefix):
                name = g[len(prefix):]
                per[name]["jobs"] += 1
                for sid in e["Stage IDs"]:
                    stage_group[sid] = name
        elif ev == "SparkListenerTaskEnd":
            name = stage_group.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if name is None or not m:
                continue
            run = m.get("Executor Run Time", 0)
            task_ms[e["Stage ID"]].append(run)
            p = per[name]
            p["busy_s"] += run / 1e3
            sw = m.get("Shuffle Write Metrics", {})
            p["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
            p["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / 1e6
    largest: dict[str, int] = {}
    for sid, name in stage_group.items():
        if task_ms.get(sid) and (
            name not in largest or sum(task_ms[sid]) > sum(task_ms[largest[name]])
        ):
            largest[name] = sid
    for name, sid in largest.items():
        ts = task_ms[sid]
        per[name]["task_skew"] = max(ts) / max(statistics.median(ts), 1.0)
    for s in tracer.spans:
        per[s.name]["wall_s"] = per[s.name].get("wall_s", 0.0) + s.self_s
    return per


def layer_metrics(log_dir: str, tracer: Tracer, counts: dict,
                  layers: list[str]) -> dict[str, tuple[float, str]]:
    """After the session has stopped (so the event log is complete):
    every per-layer metric of the workload family, 0 for a layer this
    workload bypasses, plus the counts taken during the run."""
    stats = layer_stats(log_dir, tracer)
    metrics = {}
    for layer in layers:
        for m, unit in LAYER_METRICS:
            key = f"{layer}.{m}"
            metrics[key] = (counts.get(key, stats.get(layer, {}).get(m, 0)), unit)
    units = {"arrow_in_mb": "MB", "overhead_frac": "ratio", "state_mb": "MB",
             "candidate_precision": "ratio", "read_fraction": "ratio",
             "traced_docs_per_s": "1/s"}
    for key, v in counts.items():
        metrics.setdefault(key, (v, units.get(key.rsplit(".", 1)[1], "count")))
    return metrics
