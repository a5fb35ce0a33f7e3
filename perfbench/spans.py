"""Spans from outside the engine, and Spark stage metrics charged to them.

``Tracer.install()`` wraps the public calls into each engine module
(plans.crawl, sources.store, operators.seen_index) at class level, in
this process only. A wrapper records a span (name, round, start, end,
parent) and runs the call under the Spark job group
``<workload>:r<round>:<span>`` (``<workload>:<phase>:<span>`` outside a
round), restoring the caller's group afterwards. Wrappers only time and
label calls: they start no Spark job of their own.

Spark's built-in event log (``spark.eventLog.*``) is the stage-level
record. ``read_event_log`` folds it into one row per completed stage
with its job group, operator scopes and task metrics, so each stage is
charged to the span whose group it ran under.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

GROUP_KEY = "spark.jobGroup.id"
DESC_KEY = "spark.job.description"


@dataclass
class Span:
    name: str
    group: str
    round: int | None
    start: float
    end: float = 0.0
    parent: str | None = None
    path: str | None = None  # table path a store write committed

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, workload: str) -> None:
        self.sc = spark.sparkContext
        self.workload = workload
        self.phase = "setup"
        self.round: int | None = None
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- spans --------------------------------------------------------------
    def group_for(self, name: str) -> str:
        where = f"r{self.round}" if self.round is not None else self.phase
        return f"{self.workload}:{where}:{name}"

    @contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sp = Span(name, self.group_for(name), self.round, time.monotonic(),
                  parent=stack[-1].name if stack else None)
        prev = (self.sc.getLocalProperty(GROUP_KEY), self.sc.getLocalProperty(DESC_KEY))
        self.sc.setLocalProperty(GROUP_KEY, sp.group)
        self.sc.setLocalProperty(DESC_KEY, sp.group)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.monotonic()
            stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev[0])
            self.sc.setLocalProperty(DESC_KEY, prev[1])
            with self._lock:
                self.spans.append(sp)

    # -- wrappers -----------------------------------------------------------
    def _wrap(self, cls, attr: str, namer, after=None) -> None:
        orig = getattr(cls, attr)
        tracer = self

        def wrapper(obj, *args, **kwargs):
            with tracer.span(namer(*args, **kwargs)) as sp:
                out = orig(obj, *args, **kwargs)
            if after is not None:
                after(sp, out)
            return out

        setattr(cls, attr, wrapper)

    def install(self) -> None:
        """Wrap the engine's public per-module calls (see module doc)."""
        from atra_spark.operators.seen_index import SeenIndex
        from atra_spark.plans.crawl import CrawlEngine
        from atra_spark.sources.store import CheckpointStore

        def table_arg(args, kwargs):
            return kwargs.get("table", args[0] if args else "?")

        def on_write(sp, path):
            sp.path = path

        def start_round(rnd, *a, **k):
            self.round = rnd
            return "round"

        def end_round(sp, stats):
            self.round = None

        self._wrap(CrawlEngine, "__init__", lambda *a, **k: "engine.init")
        self._wrap(CrawlEngine, "seed", lambda *a, **k: "seed")
        self._wrap(CrawlEngine, "run_round", start_round, after=end_round)
        for attr in ("write_snapshot", "write_delta"):
            self._wrap(CheckpointStore, attr,
                       lambda *a, **k: f"store.{table_arg(a, k)}.write", after=on_write)
        self._wrap(CheckpointStore, "compact_table",
                   lambda spark, table, *a, **k: f"store.{table}.compact", after=on_write)
        for attr in ("count_rows", "read_small"):
            self._wrap(CheckpointStore, attr, lambda *a, **k: "store.driver_reads")
        for attr in ("add_urls", "commit", "compact"):
            self._wrap(SeenIndex, attr, lambda *a, _n=attr, **k: f"seen_index.{_n}")


# -- event log ---------------------------------------------------------------
_TASK_METRICS = {
    "internal.metrics.executorRunTime": ("run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
}
_SQL_METRICS = {
    "data sent to Python workers": "python_in_bytes",
    "data returned from Python workers": "python_out_bytes",
}


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(log_dir: str) -> list[dict]:
    """One dict per completed stage: id, group, scopes (operator names),
    tasks and the task-metric totals of ``_TASK_METRICS`` and
    ``_SQL_METRICS``."""
    groups: dict[int, str] = {}
    stages: list[dict] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    groups[info["Stage ID"]] = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
                elif kind == "SparkListenerStageCompleted":
                    stages.append(_stage_row(ev["Stage Info"], groups))
    return stages


def _stage_row(info: dict, groups: dict[int, str]) -> dict:
    scopes = set()
    for rdd in info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope:
            scopes.add(json.loads(scope).get("name", ""))
    row = {
        "id": info["Stage ID"],
        "group": groups.get(info["Stage ID"], ""),
        "scopes": scopes,
        "tasks": info.get("Number of Tasks", 0),
    }
    for key, _scale in _TASK_METRICS.values():
        row.setdefault(key, 0.0)
    for key in _SQL_METRICS.values():
        row[key] = 0
    for acc in info.get("Accumulables", []):
        name, value = acc.get("Name"), acc.get("Value")
        try:
            value = float(value)
        except (TypeError, ValueError):
            continue
        if name in _TASK_METRICS:
            key, scale = _TASK_METRICS[name]
            row[key] += value * scale
        elif name in _SQL_METRICS:
            row[_SQL_METRICS[name]] += value
    return row


def interval_cover(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return covered
