"""Spans recorded around each layer call, and the Spark event-log folder.

A span is (name, start, end, parent, run id). While a span is open the
benchmark sets Spark's job group to ``<run id>/<rep>/<layer>``, so every
Spark job the layer triggers can be found again in the event log and its
task metrics charged to that layer. Spans stay in memory and are written
as JSON when the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# SQL metrics of the Arrow/Python operators (PythonSQLMetrics). The
# timing metric is recorded in milliseconds.
PY_SENT = "data sent to Python workers"
PY_TIME = "time to run Python workers"

# The metrics every layer gets, with their units.
GENERIC = {
    "wall_s": "s", "task_s": "s", "driver_s": "s", "core_util": "ratio", "gc_s": "s",
    "shuffle_bytes": "bytes", "spill_bytes": "bytes", "jobs": "count",
    "python_s": "s", "to_python_bytes": "bytes",
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    rep: int
    children: list[int] = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"{self.run_id}/{self.rep}/{self.name}"


class Tracer:
    """Span recorder. With ``sc`` given, each span also tags the Spark jobs
    it starts with a job group; ``sc=None`` records spans only."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.rep = 0
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), 0.0, parent, self.run_id, self.rep)
        idx = len(self.spans)
        self.spans.append(s)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]] if self._stack else None)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(s.group, s.name)

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        covered = sum(self.spans[c].end - self.spans[c].start for c in s.children)
        return (s.end - s.start) - covered

    def dump(self, path: str) -> None:
        rows = []
        for i, s in enumerate(self.spans):
            d = asdict(s)
            d["self_s"] = self.self_time(i)
            rows.append(d)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": rows}, f, indent=1)


def read_event_log(log_dir: str) -> list[dict]:
    """All events of every application log under ``log_dir``: plain files
    and rolling ``eventlog_v2_*`` directories, uncompressed."""
    paths = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not p.endswith((".inprogress.crc", ".crc"))
        and not os.path.basename(p).startswith("appstatus_")
    )
    events = []
    for p in paths:
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


@dataclass
class GroupTotals:
    """Task and job totals of one job group."""
    jobs: int = 0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    shuffle_records: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    python_s: float = 0.0
    to_python_bytes: int = 0


def fold_events(events: list[dict]) -> dict[str, GroupTotals]:
    """Fold ``SparkListenerTaskEnd`` task metrics and the Python SQL
    metrics into per-job-group totals. Jobs outside any group are
    dropped. Times are in seconds; job intervals in epoch seconds."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    out: dict[str, GroupTotals] = defaultdict(GroupTotals)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if g is None:
                continue
            jid = ev["Job ID"]
            job_group[jid] = g
            job_start[jid] = ev["Submission Time"] / 1000.0
            out[g].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                out[job_group[jid]].job_intervals.append(
                    (job_start[jid], ev["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"])
            if g is None:
                continue
            t = out[g]
            m = ev.get("Task Metrics") or {}
            t.task_s += m.get("Executor Run Time", 0) / 1000.0
            t.gc_s += m.get("JVM GC Time", 0) / 1000.0
            sw = m.get("Shuffle Write Metrics") or {}
            t.shuffle_bytes += sw.get("Shuffle Bytes Written", 0)
            t.shuffle_records += sw.get("Shuffle Records Written", 0)
            t.spill_bytes += m.get("Disk Bytes Spilled", 0)
            t.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            t.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name, upd = acc.get("Name"), acc.get("Update")
                if upd is None:
                    continue
                if name == PY_SENT:
                    t.to_python_bytes += int(upd)
                elif name == PY_TIME:
                    t.python_s += int(upd) / 1000.0
    return dict(out)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def layer_metrics(tracer: Tracer, rep: int, groups: dict[str, GroupTotals],
                  nproc: int) -> dict:
    """Generic per-layer metrics for rep ``rep`` of ``tracer``'s spans:
    wall is the layer's self time, and the layer's jobs are the ones its
    own spans started (child spans own theirs)."""
    acc: dict[str, dict] = {}
    for i, s in enumerate(tracer.spans):
        if s.rep != rep:
            continue
        d = acc.setdefault(s.name, dict.fromkeys(GENERIC, 0.0))
        g = groups.get(s.group, GroupTotals())
        wall = tracer.self_time(i)
        d["wall_s"] += wall
        d["driver_s"] += max(0.0, wall - covered(g.job_intervals, s.start, s.end))
    for name, d in acc.items():
        g = groups.get(f"{tracer.run_id}/{rep}/{name}", GroupTotals())
        d.update(task_s=g.task_s, gc_s=g.gc_s, shuffle_bytes=g.shuffle_bytes,
                 spill_bytes=g.spill_bytes, jobs=g.jobs, python_s=g.python_s,
                 to_python_bytes=g.to_python_bytes)
        d["core_util"] = _core_util(d, nproc)
    return acc


def merge_layers(layers: list[dict], nproc: int) -> dict:
    """Sum of several layers' generic metrics, as one layer."""
    out = {k: sum(d[k] for d in layers) for k in GENERIC}
    out["core_util"] = _core_util(out, nproc)
    return out


def _core_util(d: dict, nproc: int) -> float:
    return d["task_s"] / (d["wall_s"] * nproc) if d["wall_s"] > 0 else 0.0
