"""Benchmark-side tracing: spans around calls into the package, and a
Spark event-log parser that splits each span's wall time into Spark
jobs and driver gaps.

A span sets the Spark job group and description to
``<workload>:<layer>.<op>`` for its duration, so every job the call
submits from this thread carries the span's name. Jobs submitted from
helper threads the package starts carry no group; those are credited to
the innermost span open when they were submitted (the client is a
single closed loop, so only one call is ever in flight).
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict
from dataclasses import dataclass
from pathlib import Path

SPAN_STATS = ("s", "jobs", "job_s", "driver_gap_s", "task_s", "shuffle_write_bytes", "spill_bytes")


@dataclass
class Call:
    name: str
    t0: float  # epoch seconds
    t1: float
    depth: int


class Tracer:
    """Records spans and counts once started, and only in a traced run,
    so set-up and warm-up calls stay out of the per-layer figures; a
    tracer that is not recording costs one branch."""

    def __init__(self, spark, workload: str, traced: bool):
        self.sc = spark.sparkContext
        self.workload = workload
        self.traced = traced
        self.enabled = False
        self.calls: list[Call] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._open: list[str] = []

    def _set_group(self, name: str | None) -> None:
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            group = f"{self.workload}:{name}"
            self.sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def _span(self, name: str):
        self._set_group(name)
        self._open.append(name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self._open.pop()
            self.calls.append(Call(name, t0, t1, len(self._open)))
            self._set_group(self._open[-1] if self._open else None)

    def start(self) -> None:
        """Called when the timed loop begins."""
        self.enabled = self.traced

    def span(self, name: str):
        return self._span(name) if self.enabled else contextlib.nullcontext()

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[name] += value


# -- event log ------------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    group: str | None
    submit: float  # epoch seconds
    end: float
    stages: list[int]
    task_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def parse_event_log(log_dir: Path) -> list[Job]:
    """Jobs with their task metrics from the (closed) event log."""
    files = [p for p in log_dir.iterdir() if p.is_file() and not p.name.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one closed event log in {log_dir}, found {files}")
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stage_tasks: dict[int, list[float]] = defaultdict(lambda: [0.0, 0, 0])
    with files[0].open(encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(
                    ev["Job ID"],
                    props.get("spark.jobGroup.id"),
                    ev["Submission Time"] / 1000.0,
                    ev["Submission Time"] / 1000.0,
                    list(ev.get("Stage IDs") or []),
                )
                jobs[job.job_id] = job
                for s in job.stages:
                    stage_job.setdefault(s, job.job_id)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                acc = stage_tasks[ev["Stage ID"]]
                acc[0] += m.get("Executor Run Time", 0) / 1000.0
                acc[1] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                acc[2] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for stage, (task_s, shuffle, spill) in stage_tasks.items():
        job = jobs.get(stage_job.get(stage, -1))
        if job is not None:
            job.task_s += task_s
            job.shuffle_write_bytes += int(shuffle)
            job.spill_bytes += int(spill)
    return sorted(jobs.values(), key=lambda j: j.submit)


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def span_metrics(workload: str, calls: list[Call], jobs: list[Job]) -> dict[str, dict[str, float]]:
    """Per span name, the per-call mean of each statistic in SPAN_STATS
    plus the number of calls."""
    owner: dict[int, Call] = {}
    for job in jobs:
        inside = [c for c in calls if c.t0 <= job.submit <= c.t1]
        named = [c for c in inside if f"{workload}:{c.name}" == job.group]
        pool = named or inside
        if pool:
            owner[job.job_id] = max(pool, key=lambda c: c.depth)
    own: dict[int, list[Job]] = defaultdict(list)
    for job in jobs:
        c = owner.get(job.job_id)
        if c is not None:
            own[id(c)].append(job)
    totals: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for c in calls:
        mine = own.get(id(c), [])
        window = [
            (max(j.submit, c.t0), min(j.end, c.t1)) for j in jobs if j.submit <= c.t1 and j.end >= c.t0
        ]
        t = totals[c.name]
        t["calls"] += 1
        t["s"] += c.t1 - c.t0
        t["jobs"] += len(mine)
        t["job_s"] += _covered([(j.submit, j.end) for j in mine])
        t["driver_gap_s"] += (c.t1 - c.t0) - _covered(window)
        t["task_s"] += sum(j.task_s for j in mine)
        t["shuffle_write_bytes"] += sum(j.shuffle_write_bytes for j in mine)
        t["spill_bytes"] += sum(j.spill_bytes for j in mine)
    out = {}
    for name, t in totals.items():
        n = t["calls"]
        out[name] = {"calls": n, **{k: t[k] / n for k in SPAN_STATS}}
    return out
