"""Op records, layer spans and the Spark event-log reader.

Every op is timed; in a traced run the calls into each layer inside an op
are recorded as spans too (op -> plan.build -> catalyst -> execute, or op
-> write for ops that persist). Jobs, stages and tasks come from the
event log the traced session writes, and are attributed to ops by time
window (op start <= job submit <= op end): jobs submitted from the
library's own thread pools carry no job group, but in a closed loop with
one client only one op is ever open.
"""

from __future__ import annotations

import bisect
import glob
import json
import math
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class OpRecord:
    spec: dict
    kind: str                      # "query" (persists nothing) or "write"
    start: float = 0.0             # epoch seconds
    end: float = 0.0
    spans: list = field(default_factory=list)   # (name, start, end)
    payload: object = None
    error: str | None = None
    info: dict = field(default_factory=dict)
    cpu: float = 0.0               # CPU seconds of the process tree

    @property
    def wall(self) -> float:
        return self.end - self.start


class Recorder:
    """Times ops, and the layer spans inside them when ``traced``."""

    def __init__(self, traced: bool):
        self.traced = traced
        self.records: list[OpRecord] = []

    @contextmanager
    def op(self, spec: dict, kind: str):
        rec = OpRecord(spec=spec, kind=kind)
        cpu0 = tree_cpu_s()
        rec.start = time.time()
        try:
            yield rec
        except Exception as exc:  # a failed op counts; the loop goes on
            rec.error = f"{type(exc).__name__}: {exc}"
        finally:
            rec.end = time.time()
            rec.cpu = tree_cpu_s() - cpu0
            self.records.append(rec)

    @contextmanager
    def layer(self, rec: OpRecord, name: str):
        if not self.traced:
            yield
            return
        start = time.time()
        try:
            yield
        finally:
            rec.spans.append((name, start, time.time()))


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all
    its descendants (the driver JVM, the Python workers it forks),
    counting the children each of them has already reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended meanwhile
            continue
        # after "pid (comm) ": state ppid ... utime stime cutime cstime
        fields = stat[stat.rindex(")") + 2:].split()
        parent[int(name)] = int(fields[1])
        ticks[int(name)] = sum(int(f) for f in fields[11:15])
    tree, grew = {os.getpid()}, True
    while grew:
        kids = {p for p, pp in parent.items() if pp in tree} - tree
        tree |= kids
        grew = bool(kids)
    return sum(ticks.get(p, 0) for p in tree) / tick


def span_total(rec: OpRecord, name: str) -> float:
    return sum(e - s for n, s, e in rec.spans if n == name)


# -- event log ----------------------------------------------------------

@dataclass
class Job:
    job_id: int
    submit: float                  # epoch seconds
    end: float = 0.0
    tasks: list = field(default_factory=list)
    stages: set = field(default_factory=set)


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs with their tasks' metrics from the event log(s) in ``log_dir``.
    A stage belongs to the first job that lists it; skipped stages (listed
    again by later jobs) run no tasks and so count nowhere."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in sorted(glob.glob(f"{log_dir}/**", recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = Job(ev["Job ID"], ev["Submission Time"] / 1000.0)
                    jobs[job.job_id] = job
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, job.job_id)
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    if job is None:
                        continue
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    job.stages.add(ev["Stage ID"])
                    job.tasks.append({
                        "finish": ev["Task Info"]["Finish Time"] / 1000.0,
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "read_b": (m.get("Input Metrics") or {})
                        .get("Bytes Read", 0),
                        "shuffle_read_b": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
                        "spill_b": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    })
    return sorted(jobs.values(), key=lambda j: j.submit)


def attribute(jobs: list[Job], records: list[OpRecord],
              setup: list[tuple[float, float]]
              ) -> tuple[dict[int, list[Job]], list[Job]]:
    """Jobs per op index by submit time, and the jobs that fall in no op
    and no setup window. Event-log times are whole milliseconds, so op
    windows widen to the enclosing milliseconds."""
    starts = [math.floor(r.start * 1000) / 1000 for r in records]
    by_op: dict[int, list[Job]] = {i: [] for i in range(len(records))}
    stray = []
    for job in jobs:
        i = bisect.bisect_right(starts, job.submit) - 1
        if i >= 0 and job.submit <= math.ceil(records[i].end * 1000) / 1000:
            by_op[i].append(job)
        elif not any(math.floor(a * 1000) / 1000 <= job.submit
                     <= math.ceil(b * 1000) / 1000 for a, b in setup):
            stray.append(job)
    return by_op, stray


def covered(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total
