"""Spans around the benchmark's calls into each library layer, Spark
job tagging, and attribution of Spark's event log to ops and spans.

A span has a name, start, end, parent and op id. Spans are kept in
memory and written out when the run ends. Each op's jobs carry the
op id as Spark job group and the innermost open span as job
description, so after the run the event log says which op and span
launched every stage.
"""

from __future__ import annotations

import contextlib
import glob
import importlib
import json
import os
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int


class Tracer:
    """Records spans while ``active``; otherwise every call is a pass-
    through, so the same workload code runs traced and untraced."""

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self.active = False
        self.op = -1
        self._open: list[int] = []

    def begin_op(self, op: int, traced: bool) -> None:
        """Start op ``op``; its jobs are tagged only when ``traced``."""
        self.op = op
        self.active = traced
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", f"op{op}" if traced else None)
            self.sc.setLocalProperty("spark.job.description", "op" if traced else None)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        idx = len(self.spans)
        parent = self._open[-1] if self._open else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._open.append(idx)
        self._describe(name)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._open.pop()
            self._describe(self.spans[self._open[-1]].name if self._open else "op")

    def _describe(self, name: str) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.job.description", name)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered, cursor = 0.0, s.start
        for c in sorted(children.get(i, ()), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out.append(s.end - s.start - covered)
    return out


# Library calls made inside other library calls, spanned by wrapping
# the name the caller looks up: (module, attribute, span name).
INNER_CALLS = (
    ("postgresql_topn_spark.sources.rollup", "topn_add_agg", "aggregates.build"),
    ("postgresql_topn_spark.sources.rollup", "topn_union_agg", "aggregates.build"),
    ("postgresql_topn_spark.sources.rollup", "sketch_to_json", "sketch.build"),
    ("postgresql_topn_spark.functions.aggregates", "topn_union_agg", "aggregates.build"),
    ("postgresql_topn_spark.functions.sketch", "sketch_to_json", "sketch.build"),
    ("postgresql_topn_spark.functions.sql_api", "rewrite_topn_sql", "sql_api.rewrite"),
)


@contextlib.contextmanager
def wrap_inner_calls(tracer: Tracer):
    """Span the library's internal layer crossings for the duration of
    the block, restoring the original functions afterwards."""
    saved = []
    for mod_name, attr, span_name in INNER_CALLS:
        mod = importlib.import_module(mod_name)
        fn = getattr(mod, attr)
        saved.append((mod, attr, fn))

        def wrapped(*a, _fn=fn, _name=span_name, **k):
            with tracer.span(_name):
                return _fn(*a, **k)

        setattr(mod, attr, wrapped)
    try:
        yield
    finally:
        for mod, attr, fn in reversed(saved):
            setattr(mod, attr, fn)


def read_events(event_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def attribute(events: list[dict]) -> dict[str, dict]:
    """Spark work per job group (the op tag): jobs, stages, tasks, task
    run/CPU/GC seconds, shuffle and input bytes, the longest task, the
    shuffle records written by stages that run a ``MapInPandas``
    partial, and task run seconds per job description (the span).
    Jobs without a group land under ``""``."""
    stage_group: dict[int, str] = {}
    stage_desc: dict[int, str] = {}
    python_partial_stages: set[int] = set()
    out: dict[str, dict] = {}

    def bucket(group: str) -> dict:
        return out.setdefault(group, {
            "jobs": 0, "stages": set(), "tasks": 0, "task_run_s": 0.0,
            "task_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
            "input_bytes": 0, "max_task_ms": 0, "partial_rows": 0,
            "run_s_by_span": {},
        })

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            desc = props.get("spark.job.description") or ""
            bucket(group)["jobs"] += 1
            for sid in e.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
                stage_desc.setdefault(sid, desc)
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            if any('"MapInPandas"' in (r.get("Scope") or "") for r in info.get("RDD Info", ())):
                python_partial_stages.add(info["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            group = stage_group.get(sid, "")
            b = bucket(group)
            m = e.get("Task Metrics") or {}
            info = e.get("Task Info") or {}
            run_s = m.get("Executor Run Time", 0) / 1e3
            b["stages"].add(sid)
            b["tasks"] += 1
            b["task_run_s"] += run_s
            b["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            b["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            b["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            b["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            b["max_task_ms"] = max(
                b["max_task_ms"], info.get("Finish Time", 0) - info.get("Launch Time", 0)
            )
            if sid in python_partial_stages:
                b["partial_rows"] += sw.get("Shuffle Records Written", 0)
            span = stage_desc.get(sid, "")
            b["run_s_by_span"][span] = b["run_s_by_span"].get(span, 0.0) + run_s
    for b in out.values():
        b["stages"] = len(b["stages"])
    return out
