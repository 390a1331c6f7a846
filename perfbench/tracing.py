"""Spans around the package's public functions, attributed to Spark work.

A ``Tracer`` records one span per call it wraps: name, wall interval
and parent span. Each span tags the Spark jobs it runs with a job group
of its own, so after the run every job, stage and task is attributed to
the innermost span that ran it. Counts of jobs, stages and tasks come
from the status tracker when the span closes; task time, CPU time and
bytes come from Spark's uncompressed event log, read after the session
stops (``parse_event_log``).

Wrappers are installed where the caller looks the name up (``pipelines``
imports ``build_warehouse_day`` by name, so the patch goes on
``pipelines``, not on ``warehouse``) and removed by ``Tracer.unpatch``.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-"


@dataclass
class Span:
    idx: int
    name: str
    parent: int | None
    start: float  # epoch seconds
    end: float = 0.0
    jobs: int = 0  # own jobs, i.e. run while this span was innermost
    stages: int = 0
    tasks: int = 0
    children: list[int] = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}{self.idx}"

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans in memory; ``overhead_s`` is the driver time spent
    in the tracer's own bookkeeping (job-group calls, status queries)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.idx if parent else None, time.time())
        if parent is not None:
            parent.children.append(s.idx)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            s.end = time.time()
            t1 = time.perf_counter()
            self._stack.pop()
            self._count(s)
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - t1

    def _count(self, s: Span) -> None:
        st = self.sc.statusTracker()
        for job_id in st.getJobIdsForGroup(s.group):
            info = st.getJobInfo(job_id)
            if info is None:
                continue
            s.jobs += 1
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is not None and stage.numCompletedTasks > 0:
                    s.stages += 1
                    s.tasks += stage.numCompletedTasks

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it in a span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._patches.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unpatch(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()

    # --- aggregation -------------------------------------------------
    def subtree(self, idx: int) -> list[Span]:
        out, todo = [], [idx]
        while todo:
            s = self.spans[todo.pop()]
            out.append(s)
            todo.extend(s.children)
        return out

    def self_time(self, s: Span) -> float:
        """Span wall minus the part of it its child spans cover."""
        kids = [(self.spans[c].start, self.spans[c].end) for c in s.children]
        return s.wall - covered(kids, s.start, s.end)


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# --- event log -------------------------------------------------------

TASK_FIELDS = (
    "tasks", "task_s", "cpu_s", "input_bytes", "shuffle_write_bytes",
    "output_bytes", "spill_bytes",
)


def parse_event_log(path: str) -> dict:
    """Read an uncompressed Spark event log (a file, or a directory
    holding log files or rolling-log directories) into per-job-group sums.

    Returns ``{"jobs": {job_id: (group, submit_s, end_s)},
    "groups": {group: {field: value for field in TASK_FIELDS}}}``.
    Tasks are attributed through their stage's job group, which Spark
    copies into the stage-submitted event's properties.
    """
    files = [path]
    if os.path.isdir(path):
        # Spark 4 writes eventlog_v2_<app>/events_<n>_<app> rolling files
        # next to an empty appstatus marker and hidden .crc checksums
        files = sorted(
            (
                os.path.join(d, f)
                for d, _, fs in os.walk(path)
                for f in fs
                if not f.startswith((".", "appstatus"))
            ),
            key=_roll_order,
        )
    jobs: dict[int, list] = {}
    stage_group: dict[int, str | None] = {}
    groups: dict[str | None, dict] = {}
    for f in files:
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    jobs[ev["Job ID"]] = [g, ev["Submission Time"] / 1000, None]
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]][2] = ev["Completion Time"] / 1000
                elif kind == "SparkListenerStageSubmitted":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    stage_group[ev["Stage Info"]["Stage ID"]] = g
                elif kind == "SparkListenerTaskEnd":
                    _add_task(groups, stage_group.get(ev["Stage ID"]), ev)
    return {
        "jobs": {j: tuple(v) for j, v in jobs.items() if v[2] is not None},
        "groups": groups,
    }


def _roll_order(path: str):
    name = os.path.basename(path)
    n = name.split("_")[1] if name.startswith("events_") else ""
    return (os.path.dirname(path), int(n) if n.isdigit() else 0, name)


def _add_task(groups: dict, group, ev: dict) -> None:
    acc = groups.setdefault(group, dict.fromkeys(TASK_FIELDS, 0))
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    acc["tasks"] += 1
    acc["task_s"] += (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000
    acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    acc["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    acc["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
        "Disk Bytes Spilled", 0
    )


def named_stats(tracer: Tracer, log: dict, within: int, name: str) -> dict:
    """Sum of ``span_stats`` over the spans called ``name`` inside span
    ``within`` (outermost occurrences only); zeros when there are none."""
    spans = tracer.subtree(within)
    ids = {s.idx for s in spans if s.name == name}
    top = [
        s.idx for s in spans
        if s.idx in ids and not _has_ancestor(tracer, s, ids)
    ]
    out: dict = {}
    for idx in top:
        for k, v in span_stats(tracer, log, idx).items():
            out[k] = out.get(k, 0) + v
    return out


def _has_ancestor(tracer: Tracer, s: Span, ids: set) -> bool:
    p = s.parent
    while p is not None:
        if p in ids:
            return True
        p = tracer.spans[p].parent
    return False


def span_stats(tracer: Tracer, log: dict, idx: int) -> dict:
    """Inclusive metrics of span ``idx`` and its descendants: wall and
    self time, job/stage/task counts (status tracker), task-level sums
    (event log), driver-only time (wall not covered by any of the
    subtree's jobs) and parallelism (task time ÷ wall)."""
    root = tracer.spans[idx]
    sub = tracer.subtree(idx)
    names = {s.group for s in sub}
    out = {
        "s": root.wall,
        "self_s": tracer.self_time(root),
        "jobs": sum(s.jobs for s in sub),
        "stages": sum(s.stages for s in sub),
        "calls": 1,
    }
    sums = dict.fromkeys(TASK_FIELDS, 0)
    for g in names:
        for k, v in log["groups"].get(g, {}).items():
            sums[k] += v
    out.update(sums)
    out["tasks"] = sum(s.tasks for s in sub)
    job_iv = [(a, b) for g, a, b in log["jobs"].values() if g in names]
    out["driver_only_s"] = root.wall - covered(job_iv, root.start, root.end)
    out["parallelism"] = sums["task_s"] / root.wall if root.wall > 0 else 0.0
    return out
