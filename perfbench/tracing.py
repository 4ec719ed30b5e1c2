"""Tracing from outside the program: timing wrappers around the public
functions of each layer, in-memory spans, Spark job groups per phase,
and one-pass aggregation of Spark's event log.

Nothing here edits the package under test. Wrappers are installed by
rebinding names: a function is replaced in its defining module AND in
every module that imported it by name (``pipeline.py`` does
``from ...sinks.writers import write_sink``), so calls are caught where
they are made, and every binding is restored by ``Patches.undo``.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable, Iterable

PACKAGE = "oracle_cassandra_migrator_spark"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    iteration: int

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


def group_id(group: str, iteration: int) -> str:
    """The Spark job group of one phase or query in one iteration: each
    iteration has its own, so Spark's counts can be taken for exactly
    the iterations whose timings were kept."""
    return f"{group}@{iteration}"


class Tracer:
    """Spans and counters of one traced run, kept in memory; the Spark
    job group (see ``group_id``) is switched with the spans that name
    one."""

    def __init__(self, spark=None, workload: str = ""):
        self.spark = spark
        self.workload = workload
        self.spans: list[Span] = []
        self.iteration = -1
        self._stack: list[int] = []
        self._groups: list[str] = []
        self._group_since = 0.0
        # seconds each job group was the active one (for core_util)
        self.group_wall: dict[str, float] = defaultdict(float)

    @contextmanager
    def span(self, name: str, group: str | None = None):
        if group is not None:
            self._push_group(group_id(f"{self.workload}.{group}", self.iteration))
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = Span(sid, name, time.perf_counter(), 0.0, parent, self.iteration)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self._pop_group()

    # -- Spark job groups: the innermost open group owns the jobs ----
    def _switch(self, group: str | None) -> None:
        now = time.perf_counter()
        if self._groups:
            self.group_wall[self._groups[-1]] += now - self._group_since
        self._group_since = now
        if self.spark is not None:
            sc = self.spark.sparkContext
            if group is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(group, group)

    def _push_group(self, group: str) -> None:
        self._switch(group)
        self._groups.append(group)

    def _pop_group(self) -> None:
        self._switch(self._groups[-2] if len(self._groups) > 1 else None)
        self._groups.pop()

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.id, "name": s.name, "start": s.start,
                    "end": s.end, "parent": s.parent,
                    "iteration": s.iteration}) + "\n")


class NullTracer(Tracer):
    """The untraced run: spans and groups cost nothing."""

    @contextmanager
    def span(self, name: str, group: str | None = None):
        yield None


# ---------------------------------------------------------------------------
# span arithmetic
# ---------------------------------------------------------------------------

def _covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span], within: Callable[[Span], bool] | None = None
               ) -> dict[int, float]:
    """Span id -> self time: its duration minus the part of its interval
    that its child spans cover. ``within`` restricts which children
    count (default: all)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None and (within is None or within(s)):
            children[s.parent].append(s)
    return {
        s.id: s.duration - _covered(((c.start, c.end) for c in children[s.id]),
                                    s.start, s.end)
        for s in spans
    }


def per_iteration(spans: list[Span], value: Callable[[Span], float],
                  select: Callable[[Span], bool], iterations: list[int]
                  ) -> list[float]:
    """Sum of ``value`` over the selected spans of each iteration, one
    entry per iteration (0 where none matched)."""
    sums = {i: 0.0 for i in iterations}
    for s in spans:
        if s.iteration in sums and select(s):
            sums[s.iteration] += value(s)
    return [sums[i] for i in iterations]


# ---------------------------------------------------------------------------
# wrapper installer
# ---------------------------------------------------------------------------

class Patches:
    """Name rebinding with exact restore."""

    def __init__(self):
        self._undo: list[tuple[object, str, object]] = []

    def set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def everywhere(self, original, replacement) -> int:
        """Rebind every module-level name in the package that refers to
        ``original``; returns how many bindings were replaced."""
        n = 0
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == PACKAGE or name.startswith(PACKAGE + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    self.set(mod, attr, replacement)
                    n += 1
        return n

    def undo(self) -> None:
        while self._undo:
            owner, attr, value = self._undo.pop()
            setattr(owner, attr, value)


def _timed(tracer: Tracer, name: str, fn, group: str | None = None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name, group):
            return fn(*args, **kwargs)
    return wrapper


@contextmanager
def traced(holder, tracer: Tracer):
    """Run the body with the wrappers installed and ``holder.tracer``
    set to ``tracer``; afterwards every binding is back."""
    patches = install(tracer)
    holder.tracer = tracer
    try:
        yield
    finally:
        patches.undo()
        holder.tracer = NullTracer()


def install(tracer: Tracer) -> Patches:
    """Wrap each layer's public entry points with spans."""
    from oracle_cassandra_migrator_spark import pipeline
    from oracle_cassandra_migrator_spark.plans import compiler
    from oracle_cassandra_migrator_spark.reliability import progress, state
    from oracle_cassandra_migrator_spark.reliability.retry import retry as real_retry
    from oracle_cassandra_migrator_spark.sinks import writers
    from oracle_cassandra_migrator_spark.sources import readers, testdata

    p = Patches()
    for original, name in (
            (readers.read_source, "sources.read_source"),
            (testdata.read_table, "sources.read_table"),
            (compiler.compile_transform, "plans.compile_transform"),
            (writers.write_sink, "sinks.write_sink"),
            (writers.write_file_idempotent, "sinks.write_file_idempotent")):
        p.everywhere(original, _timed(tracer, name, original))

    @functools.wraps(real_retry)
    def traced_retry(*args, **kwargs):
        decorate = real_retry(*args, **kwargs)
        # the retried function is Pipeline._write_one_file: one span
        # per attempt, so attempts - files written = retries
        return lambda fn: decorate(_timed(tracer, "pipeline.write_one_file", fn))

    p.everywhere(real_retry, traced_retry)

    P = pipeline.Pipeline
    for meth, name, group in (
            ("run", "pipeline.run", None),
            ("stage_sources", "pipeline.stage_sources", "stage"),
            ("stage_transformed", "pipeline.transform", "transform"),
            ("write_sink_checkpointed", "pipeline.sink", "sink")):
        p.set(P, meth, _timed(tracer, name, P.__dict__[meth], group))
    S = state.LocalFSStateStore
    for meth in ("exists", "put_marker", "list"):
        p.set(S, meth, _timed(tracer, f"reliability.state.{meth}", S.__dict__[meth]))
    R = progress.ProgressReporter
    for meth in ("__init__", "record"):
        p.set(R, meth, _timed(tracer, "reliability.progress", R.__dict__[meth]))
    return p


# ---------------------------------------------------------------------------
# Spark: status tracker and event log
# ---------------------------------------------------------------------------

def status_tracker_counts(spark, group: str) -> tuple[int, int]:
    """(jobs, completed tasks) Spark's status tracker holds for a job
    group; works with the UI disabled."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages: set[int] = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages.update(int(s) for s in info.stageIds)  # a py4j list
    tasks = 0
    for sid in stages:
        info = tracker.getStageInfo(sid)
        if info is not None:
            tasks += info.numCompletedTasks
    return len(jobs), tasks


# executor memory peaks a task end reports (with
# ``spark.executor.metrics.pollingInterval`` set): event key -> field
MEMORY_PEAKS = {
    "JVMHeapMemory": "heap_peak_bytes",
    "OnHeapStorageMemory": "storage_peak_bytes",
    "OnHeapExecutionMemory": "execution_peak_bytes",
}


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    busy_s: float = 0.0
    shuffle_bytes: int = 0
    failed_tasks: int = 0
    # largest executor memory readings while the group's tasks ran
    heap_peak_bytes: int = 0
    storage_peak_bytes: int = 0
    execution_peak_bytes: int = 0


def aggregate_event_log(lines: Iterable[str]) -> dict[str, GroupStats]:
    """One pass over a Spark event log (JSON lines, uncompressed):
    jobs per job group from ``SparkListenerJobStart``, and from every
    ``SparkListenerTaskEnd`` the task's launch-to-finish time, shuffle
    bytes written, end reason and executor memory peaks, charged to the
    group of the first job that listed its stage. Tasks of stages
    outside any group are dropped."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = defaultdict(GroupStats)
    for line in lines:
        if '"SparkListenerJobStart"' in line:
            ev = json.loads(line)
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                out[group].jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
        elif '"SparkListenerTaskEnd"' in line:
            ev = json.loads(line)
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            g = out[group]
            info = ev.get("Task Info", {})
            g.tasks += 1
            g.busy_s += max(0, info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
            shuffle = (ev.get("Task Metrics") or {}).get("Shuffle Write Metrics") or {}
            g.shuffle_bytes += shuffle.get("Shuffle Bytes Written", 0)
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                g.failed_tasks += 1
            peaks = ev.get("Task Executor Metrics") or {}
            for key, attr in MEMORY_PEAKS.items():
                setattr(g, attr, max(getattr(g, attr), peaks.get(key, 0)))
    return dict(out)
