"""Benchmark-side tracing: spans around calls into the engine's public
functions, Spark job groups per span, and an offline event-log parser.

Nothing here touches engine code. A span records name, start, end,
parent and request ID; while a span is open its thread carries the
Spark job group ``pb-<span id>``, so the jobs Spark runs for that call
can be attributed to it, both live through ``statusTracker`` and
afterwards through the event log.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Dict, List, Optional


@dataclass
class Span:
    id: int
    name: str
    request: Optional[str]
    parent: Optional[int]
    group: str
    start: float
    end: float = 0.0
    jobs: List[int] = field(default_factory=list)
    log_lines: List[str] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans in memory; `dump` writes them out at the end.

    When disabled, `span` does nothing, so the untraced run pays for no
    tracing at all."""

    def __init__(self, sc, enabled: bool, log: "DriverLog"):
        self.sc = sc
        self.enabled = enabled
        self.log = log
        self.spans: List[Span] = []
        self._next = 0
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def paused(self):
        """Run the enclosed calls untraced (no spans, no job group)."""
        prev = getattr(self._local, "paused", False)
        self._local.paused = True
        try:
            yield
        finally:
            self._local.paused = prev

    @contextmanager
    def span(self, name: str, request: Optional[str] = None):
        if not self.enabled or getattr(self._local, "paused", False):
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            sid = self._next
            self._next += 1
        sp = Span(sid, name, request if request is not None else
                  (parent.request if parent else None),
                  parent.id if parent else None, f"pb-{sid}",
                  time.perf_counter())
        log0 = self.log.offset()
        stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            # stages and tasks come from the event log, which sees only
            # the stages that ran (a skipped stage is never submitted)
            sp.jobs = sorted(
                self.sc.statusTracker().getJobIdsForGroup(sp.group))
            sp.log_lines = self.log.codegen_lines(log0)
            with self._lock:
                self.spans.append(sp)

    def children(self, sp: Span) -> List[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def self_time(self, sp: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        ivs = sorted((c.start, c.end) for c in self.children(sp))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.duration - covered

    def subtree(self, sp: Span) -> List[Span]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def by_name(self, name: str) -> List[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s.start):
                rec = asdict(sp)
                rec["self_s"] = self.self_time(sp)
                f.write(json.dumps(rec) + "\n")


CODEGEN_RE = re.compile(r"ERROR CodeGenerator|Code grows beyond 64 KB")


class DriverLog:
    """The driver's stderr (JVM log4j output included), redirected to a
    file so codegen fallbacks can be counted per span and per run."""

    def __init__(self, path: str):
        self.path = path
        self._saved = os.dup(2)
        fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        os.dup2(fd, 2)
        os.close(fd)

    def offset(self) -> int:
        return os.path.getsize(self.path)

    def codegen_lines(self, start: int = 0) -> List[str]:
        with open(self.path, "rb") as f:
            f.seek(start)
            text = f.read().decode("utf-8", "replace")
        return [ln for ln in text.splitlines() if CODEGEN_RE.search(ln)]

    def restore(self) -> None:
        os.dup2(self._saved, 2)
        os.close(self._saved)


# -- event log ---------------------------------------------------------------

_STAGE_KEYS = {
    "internal.metrics.input.bytesRead": "scan_input_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.executorRunTime": "executor_run_ms",
    "internal.metrics.executorCpuTime": "executor_cpu_ns",
    "data sent to Python workers": "arrow_bytes_to_python",
    "data returned from Python workers": "arrow_bytes_from_python",
    "time to start Python workers": "python_worker_start_ms",
    "time to run Python workers": "python_worker_run_ms",
}


def parse_event_log(path: str):
    """Per job group: summed stage metrics; per job: group, call site,
    wall time and task count. Spark 4 writes one JSON event per line
    (compression and rolling are turned off for the traced run)."""
    groups: Dict[str, Dict[str, float]] = {}
    jobs: Dict[int, dict] = {}
    stage_group: Dict[int, str] = {}
    stage_job: Dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "call_site": props.get("callSite.short", ""),
                    "start_ms": ev["Submission Time"], "tasks": 0,
                }
                for s in ev["Stage IDs"]:
                    stage_job.setdefault(s, ev["Job ID"])
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                sid = ev["Stage Info"]["Stage ID"]
                stage_group[sid] = props.get("spark.jobGroup.id")
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                g = groups.setdefault(stage_group.get(sid), {})
                g["stages"] = g.get("stages", 0) + 1
                g["tasks"] = g.get("tasks", 0) + int(si["Number of Tasks"])
                for acc in si.get("Accumulables", []):
                    key = _STAGE_KEYS.get(acc["Name"])
                    if key:
                        g[key] = g.get(key, 0.0) + float(acc["Value"])
                job = jobs.get(stage_job.get(sid))
                if job is not None:
                    job["tasks"] += int(si["Number of Tasks"])
    return groups, jobs
