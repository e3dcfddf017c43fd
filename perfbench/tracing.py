"""Spans, process-tree CPU and Spark event-log attribution.

Spans are kept in memory (name, start, end, parent, pass) around the
benchmark's own calls into each package module and written out once,
when the run ends.  Spark jobs are attributed to the innermost span
whose wall-clock window holds the job's submission time: a job group
set by the caller would miss the jobs that ``sources.sinks.write_star``
starts on its own pool threads.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")

# Layers, named after the package modules; a span name starts with its layer.
LAYERS = ("session", "fotmob", "sources", "plans", "streaming", "operators.merge")


def layer_of(name: str) -> str:
    for layer in sorted(LAYERS, key=len, reverse=True):
        if name == layer or name.startswith(layer + ".") or name.startswith(layer + "/"):
            return layer
    raise ValueError(f"span {name!r} names no layer")


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    pass_no: int

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` only yields."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.pass_no = -1

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        layer_of(name)
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, self._stack[-1] if self._stack else None,
                               self.pass_no))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


def _proc_stat(pid: int) -> tuple[int, float] | None:
    """(ppid, utime+stime+cutime+cstime in seconds) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            data = fh.read()
    except OSError:
        return None
    fields = data[data.rfind(")") + 2:].split()
    # fields[0] is state (stat field 3); utime..cstime are fields 14-17.
    return int(fields[1]), sum(int(v) for v in fields[11:15]) / CLK_TCK


def tree_cpu_s() -> float:
    """CPU seconds of this process and every live descendant (the
    Python driver, the JVM it launched and the ``pyspark.daemon``
    workers), including what reaped children left in their parents'
    counters."""
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _proc_stat(int(entry))
            if st is not None:
                stats[int(entry)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid][1]
        todo.extend(children.get(pid, ()))
    return total


def steal_s() -> float:
    """Host steal time summed over all CPUs since boot, in seconds."""
    with open("/proc/stat") as fh:
        for line in fh:
            if line.startswith("cpu "):
                return int(line.split()[8]) / CLK_TCK
    return 0.0


class Stopwatch:
    """Wall and process-tree CPU summed over the segments it times, so
    that checks run between timed segments stay out of a pass."""

    def __init__(self):
        self.wall = 0.0
        self.cpu = 0.0

    @contextmanager
    def timed(self):
        c0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            yield
        finally:
            self.wall += time.perf_counter() - t0
            self.cpu += tree_cpu_s() - c0


# ---------------------------------------------------------------- event log

@dataclass
class Job:
    job_id: int
    submitted: float  # epoch seconds
    stages: tuple
    tasks: int = 0
    input_bytes: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


def read_event_logs(log_dir: str) -> list[Job]:
    """Jobs with their task totals, from every uncompressed event log in
    ``log_dir`` (one per SparkContext the run started)."""
    jobs: list[Job] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        stage_job: dict[int, Job] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = Job(ev["Job ID"], ev["Submission Time"] / 1000, tuple(ev["Stage IDs"]))
                    jobs.append(job)
                    for s in job.stages:
                        stage_job[s] = job
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev["Stage ID"])
                    m = ev.get("Task Metrics") or {}
                    if job is None:
                        continue
                    job.tasks += 1
                    job.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    job.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
    return jobs


def attribute_jobs(spans: list[Span], jobs: list[Job]) -> dict[int, list[Job]]:
    """span index -> jobs submitted inside it and inside no child span.
    The 0.5 ms slack absorbs the JVM and Python clocks' rounding."""
    out: dict[int, list[Job]] = {}
    for job in jobs:
        best = None
        for i, s in enumerate(spans):
            if s.start - 5e-4 <= job.submitted <= s.end + 5e-4:
                if best is None or s.start >= spans[best].start:
                    best = i
        if best is not None:
            out.setdefault(best, []).append(job)
    return out
