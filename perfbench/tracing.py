"""Spans recorded around the benchmark's calls into the package, and the
Spark counters of each span read back from the event log.

Nothing here reaches into the package: a span wraps a call the
benchmark makes, and the call's Spark jobs carry the span's name as
their job group, which the event log records on every job start.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# the event log gives times in ms and sizes in bytes
_MS = 1e-3
_MB = 1.0 / (1 << 20)
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_BACK = "data returned from Python workers"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    pass_id: str
    id: int
    rows_out: int | None = None

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Spans of one traced pass, kept in memory until ``dump``."""

    pass_id: str
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, sc=None):
        """Time the block as span ``name``; with a SparkContext, tag its
        jobs with ``name`` as their job group."""
        sid = len(self.spans)
        rec = Span(name, time.perf_counter(), 0.0,
                   self._stack[-1] if self._stack else None, self.pass_id, sid)
        self.spans.append(rec)
        self._stack.append(sid)
        if sc is not None:
            sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                parent = self.spans[self._stack[-1]].name if self._stack else None
                if parent is None:
                    sc.clearJobGroup()
                else:
                    sc.setJobGroup(parent, parent)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f, indent=1)


def self_time(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the part of it its children cover
    (children may overlap one another; each instant counts once)."""
    kids = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans
        if c.parent == span.id
    )
    covered, reach = 0.0, span.start
    for lo, hi in kids:
        lo = max(lo, reach)
        if hi > lo:
            covered += hi - lo
            reach = hi
    return span.wall - covered


def unaccounted_share(root: Span, spans: list[Span]) -> float:
    """Share of the root span's wall that no child span accounts for."""
    return self_time(root, spans) / root.wall if root.wall > 0 else 0.0


def event_files(log_dir: str) -> list[str]:
    """Event files of the application logged under ``log_dir``, in the
    rolling ``eventlog_v2_*/events_*`` layout Spark 4 writes."""
    paths = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))
    if not paths:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    return paths


def _blank() -> dict[str, float]:
    return dict.fromkeys(
        ("task_s", "gc_s", "python_s", "arrow_mb", "shuffle_write_mb",
         "fetch_wait_s", "spill_mb", "tasks_failed", "tasks"), 0.0
    )


def aggregate_by_group(lines) -> dict[str, dict[str, float]]:
    """Sum task counters per job group over an event log's JSON lines.

    A stage belongs to the group of the first job that lists it; tasks
    of stages whose job carries no group are dropped."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    for line in lines:
        ev = json.loads(line) if isinstance(line, str) else line
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is not None:
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            acc = out.setdefault(group, _blank())
            info = ev.get("Task Info") or {}
            tm = ev.get("Task Metrics") or {}
            acc["tasks"] += 1
            acc["tasks_failed"] += 1 if info.get("Failed") else 0
            acc["task_s"] += tm.get("Executor Run Time", 0) * _MS
            acc["gc_s"] += tm.get("JVM GC Time", 0) * _MS
            acc["spill_mb"] += (
                tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            ) * _MB
            acc["shuffle_write_mb"] += (
                (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                * _MB
            )
            acc["fetch_wait_s"] += (
                (tm.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0) * _MS
            )
            for a in info.get("Accumulables", []):
                name = a.get("Name")
                if name == PY_RUN:
                    acc["python_s"] += float(a.get("Update", 0)) * _MS
                elif name in (PY_SENT, PY_BACK):
                    acc["arrow_mb"] += float(a.get("Update", 0)) * _MB
    return out


def read_groups(log_dir: str) -> dict[str, dict[str, float]]:
    def lines():
        for path in event_files(log_dir):
            with open(path) as f:
                yield from f

    return aggregate_by_group(lines())


def layer_metrics(
    spans: list[Span],
    groups: dict[str, dict[str, float]],
    cores: int,
    job_layers: dict[str, list[str]],
) -> dict[str, float]:
    """``<span>.<kind>`` for every span below the root: its wall, the
    Spark counters of its job group, slot use, rows out, and for each
    job in ``job_layers`` its own time, the job's wall minus the walls
    of the layer spans it wraps (each measured once in the same pass)."""
    wall = {s.name: s.wall for s in spans}
    out: dict[str, float] = {}
    for s in spans:
        if s.parent is None:
            continue
        g = groups.get(s.name, _blank())
        out[f"{s.name}.wall_s"] = s.wall
        for kind in ("task_s", "gc_s", "python_s", "arrow_mb", "shuffle_write_mb",
                     "fetch_wait_s", "spill_mb", "tasks_failed"):
            out[f"{s.name}.{kind}"] = g[kind]
        out[f"{s.name}.slot_util"] = g["task_s"] / (s.wall * cores) if s.wall else 0.0
        if s.rows_out is not None:
            out[f"{s.name}.rows_out"] = float(s.rows_out)
    for job, layers in job_layers.items():
        if job in wall:
            out[f"{job}.self_s"] = wall[job] - sum(wall.get(n, 0.0) for n in layers)
    return out
