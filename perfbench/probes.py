"""Measurement helpers: spans, the Spark event log, process memory, quantiles.

Everything here observes the engine from outside: spans are timed around
calls into the package, execution counters come from Spark's JSON event log
parsed after the session stops, and memory is read from ``/proc``.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def p90(values: list[float]) -> float:
    """90th percentile (inclusive interpolation); the median below 2 samples."""
    if len(values) < 2:
        return median(values)
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Nested spans kept in memory and written out once at the end.

    Timing is always taken (a span is two clock reads); ``enabled`` only
    decides whether the span is kept for the trace file."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        s = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None,
                 attrs=attrs)
        if self.enabled:
            self.spans.append(s)
            self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if self.enabled:
                self._stack.pop()

    def self_seconds(self) -> dict[str, float]:
        """Total self time per span name: duration minus direct children."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.seconds
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + s.seconds - child[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({
                "spans": [
                    {"name": s.name, "start": s.start, "end": s.end,
                     "parent": s.parent, **s.attrs}
                    for s in self.spans
                ],
                "self_seconds": self.self_seconds(),
            }, f)


# ---- Spark JSON event log -------------------------------------------------

@dataclass
class Task:
    launch_ms: int
    finish_ms: int
    gc_ms: int
    input_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int

    @property
    def seconds(self) -> float:
        return (self.finish_ms - self.launch_ms) / 1000.0


@dataclass
class EventLog:
    job_group: dict[int, str] = field(default_factory=dict)
    stage_job: dict[int, int] = field(default_factory=dict)
    stage_tasks: dict[int, list[Task]] = field(default_factory=dict)

    def jobs_in(self, groups: set[str]) -> list[int]:
        return [j for j, g in self.job_group.items() if g in groups]

    def stages_of(self, jobs: set[int]) -> list[int]:
        """Stages that ran tasks for these jobs (skipped stages have none)."""
        return [s for s, j in self.stage_job.items() if j in jobs and self.stage_tasks.get(s)]


def read_event_log(path: str) -> EventLog:
    log = EventLog()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = ev["Job ID"]
                log.job_group[job] = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                for stage in ev.get("Stage IDs", []):
                    log.stage_job.setdefault(stage, job)
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                log.stage_tasks.setdefault(ev["Stage ID"], []).append(Task(
                    launch_ms=info["Launch Time"],
                    finish_ms=info["Finish Time"],
                    gc_ms=m.get("JVM GC Time", 0),
                    input_bytes=(m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    shuffle_read_bytes=rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                    shuffle_write_bytes=wr.get("Shuffle Bytes Written", 0),
                    spill_bytes=m.get("Disk Bytes Spilled", 0),
                ))
    return log


def busy_seconds(tasks: list[Task]) -> float:
    """Length of the union of the tasks' run intervals."""
    total, end = 0, None
    for t in sorted(tasks, key=lambda t: t.launch_ms):
        if end is None or t.launch_ms > end:
            total += t.finish_ms - t.launch_ms
            end = t.finish_ms
        elif t.finish_ms > end:
            total += t.finish_ms - end
            end = t.finish_ms
    return total / 1000.0


def exec_counters(log: EventLog, groups: set[str]) -> dict[str, float]:
    """Execution counters over every job launched under ``groups``."""
    jobs = set(log.jobs_in(groups))
    stages = log.stages_of(jobs)
    tasks = [t for s in stages for t in log.stage_tasks[s]]
    skew = 1.0
    if stages:
        biggest = max(stages, key=lambda s: sum(t.seconds for t in log.stage_tasks[s]))
        times = [t.seconds for t in log.stage_tasks[biggest]]
        mid = statistics.median(times)
        skew = max(times) / mid if mid > 0 else 1.0
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": len(tasks),
        "task_s": sum(t.seconds for t in tasks),
        "skew": skew,
        "gc_s": sum(t.gc_ms for t in tasks) / 1000.0,
        "shuffle_read_bytes": sum(t.shuffle_read_bytes for t in tasks),
        "shuffle_write_bytes": sum(t.shuffle_write_bytes for t in tasks),
        "spill_bytes": sum(t.spill_bytes for t in tasks),
        "input_bytes": sum(t.input_bytes for t in tasks),
    }


def group_tasks(log: EventLog, group: str) -> list[Task]:
    jobs = set(log.jobs_in({group}))
    return [t for s in log.stages_of(jobs) for t in log.stage_tasks[s]]


# ---- memory -----------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def peak_rss_mb(root_pid: int | None = None) -> float:
    """Sum of the peak resident set (VmHWM) of this process and all its
    descendants (the Python driver plus the Spark JVM), in MiB."""
    kids = _children()
    todo, total_kb = [root_pid or os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total
