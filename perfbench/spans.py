"""Layer tracing for the benchmark's traced run.

A span wraps one call into a kgforge layer.  While a span is open every
Spark job the driver thread submits carries the span's own job group, so
the Spark event log attributes stages, tasks and shuffle bytes to the
innermost open span (its self time).  Spans live in memory; the event log
is parsed after the session stops.

Layer calls made inside kgforge functions (``run_kg_pipeline``,
``merge_graph``) are reached by replacing the module attributes those
functions resolve at call time with wrappers; ``Tracer.patched`` restores
the originals on exit.  A wrapper forces the layer's DataFrame result with
``localCheckpoint(eager=True)`` so its work happens inside its own span.
The forcing jobs carry the span's ``.force`` group: their task time and
bytes count for the span, but they are not counted as the program's jobs.
That forcing is part of the tracing overhead the traced run reports.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import time
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=lambda: defaultdict(float))

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"


FORCE = ".force"


def materialize(value):
    """Materialize DataFrames (also inside a tuple) so their work is done."""
    if isinstance(value, DataFrame):
        return value.localCheckpoint(eager=True)
    if isinstance(value, tuple):
        return tuple(materialize(v) for v in value)
    return value


class Tracer:
    """Spans with one Spark job group each; disabled tracers cost nothing."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op = -1

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None,
                 self.op, time.monotonic())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.monotonic()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def force(self, value):
        """``value`` materialized inside the innermost open span, under its
        ``.force`` job group; unchanged when no span is open."""
        if not self._stack:
            return value
        s = self._stack[-1]
        self.sc.setJobGroup(s.group + FORCE, s.name)
        try:
            return materialize(value)
        finally:
            self.sc.setJobGroup(s.group, s.name)

    def wrap(self, name: str, fn, after=None, forced: bool = True):
        """``fn`` run inside span ``name``, its result forced unless
        ``forced`` is false; ``after(span, args, result)`` records counts
        once the span closed."""

        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if forced:
                    out = self.force(out)
            if after is not None:
                after(s, args, out)
            return out

        return traced

    @contextlib.contextmanager
    def patched(self, targets: dict[tuple[str, str], tuple]):
        """Replace ``owner.attr`` with a traced wrapper for the block.
        ``targets`` maps (module or module.Class, attr) to the arguments
        of ``wrap`` after ``fn``: (span name, after-callback[, forced])."""
        saved = []
        try:
            for (owner_name, attr), spec in targets.items():
                try:
                    owner = importlib.import_module(owner_name)
                except ModuleNotFoundError:
                    mod_name, cls = owner_name.rsplit(".", 1)
                    owner = getattr(importlib.import_module(mod_name), cls)
                orig = getattr(owner, attr)
                saved.append((owner, attr, orig))
                setattr(owner, attr, self.wrap(spec[0], orig, *spec[1:]))
            yield
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


@dataclass
class GroupStats:
    jobs: int = 0
    task_s: float = 0.0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0


def parse_event_log(log_dir: Path) -> dict[str, GroupStats]:
    """Per job group: jobs, summed task time, shuffle and output bytes."""
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    # Spark 4 writes eventlog_v2_<app>/events_<n>_<app> (rolling files)
    files = [p for p in log_dir.rglob("*") if p.is_file() and "appstatus" not in p.name]
    files.sort(key=lambda p: [int(x) if x.isdigit() else x for x in p.name.split("_")])
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        stats[group].jobs += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        stage_group[ev["Stage Info"]["Stage ID"]] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    if group is None:
                        continue
                    info = ev.get("Task Info") or {}
                    metrics = ev.get("Task Metrics") or {}
                    g = stats[group]
                    g.task_s += (info.get("Finish Time", 0)
                                 - info.get("Launch Time", 0)) / 1000.0
                    g.shuffle_write_bytes += (
                        metrics.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    g.output_bytes += (
                        metrics.get("Output Metrics") or {}
                    ).get("Bytes Written", 0)
    return stats


@dataclass
class SpanTotals:
    """One span name's totals over the traced ops."""

    self_s: float = 0.0
    task_s: float = 0.0
    jobs: int = 0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0
    counts: dict = field(default_factory=lambda: defaultdict(float))


def totals_by_name(spans: list[Span], stats: dict[str, GroupStats]) -> dict[str, SpanTotals]:
    """Self time (duration minus direct children) and event-log stats
    summed per span name; jobs of a span's ``.force`` group add task time
    and bytes but no jobs."""
    child_s: dict[int, float] = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child_s[s.parent] += s.end - s.start
    out: dict[str, SpanTotals] = defaultdict(SpanTotals)
    for s in spans:
        t = out[s.name]
        t.self_s += (s.end - s.start) - child_s[s.id]
        for group in (s.group, s.group + FORCE):
            g = stats.get(group)
            if g is not None:
                t.task_s += g.task_s
                t.shuffle_write_bytes += g.shuffle_write_bytes
                t.output_bytes += g.output_bytes
                if group == s.group:
                    t.jobs += g.jobs
        for k, v in s.counts.items():
            t.counts[k] += v
    return out
