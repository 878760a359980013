"""Spans around layer calls, and the fold of Spark's offline event log
into per-span counters.

While a span is open, its calling thread's Spark job group is
``span:<id>``; every stage submitted in that time carries the group in
its properties, so the event log attributes each task to exactly one
span. Counters come from the event log, never from the live status
store, which evicts stages beyond ``spark.ui.retainedStages``.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PREFIX = "span:"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def group(self) -> str:
        return f"{SPAN_PREFIX}{self.id}"


class Tracer:
    """Opens spans on the calling thread. Spans are kept in memory and
    read after the run; nothing is written while spans are open."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._open: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        s = Span(len(self.spans), name, parent.id if parent else None, time.time())
        self.spans.append(s)
        self._open.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()
            self._set_group(parent)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval covered by its child
    spans (children clipped to the parent; overlapping children counted
    once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in sorted(
            (max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, [])
        ):
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s.id] = (s.end - s.start) - covered
    return out


# -- event log fold ---------------------------------------------------------

_PY_RUN = "time to run Python workers"  # ms
_PY_SENT = "data sent to Python workers"  # bytes
_PY_RECV = "data returned from Python workers"  # bytes
_COMMIT = "task commit time"  # ms, the file-output commit of a write task
_WANTED = (
    '{"Event":"SparkListenerTaskEnd"',
    '{"Event":"SparkListenerStageSubmitted"',
    '{"Event":"SparkListenerStageCompleted"',
    '{"Event":"SparkListenerJobStart"',
)

GROUP_KEYS = (
    "tasks", "cpu_s", "run_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "output_bytes", "output_records", "py_worker_s", "py_bytes_sent",
    "py_bytes_returned", "commit_s",
)


@dataclass
class Task:
    stage: int
    launch_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write: int
    shuffle_read: int
    spill: int
    out_bytes: int
    out_records: int
    py_run_ms: int
    py_sent: int
    py_recv: int
    commit_ms: int = 0


@dataclass
class EventLog:
    """The parts of a Spark event log the benchmark reads."""

    tasks: list[Task] = field(default_factory=list)
    stage_group: dict[int, str | None] = field(default_factory=dict)
    stage_submit_ms: dict[int, int] = field(default_factory=dict)
    # executor CPU per stage from StageCompleted accumulables: a second,
    # independent source for the self-check against the per-task sum
    stage_cpu_ns: dict[int, int] = field(default_factory=dict)
    jobs: list[tuple[int, int, str | None]] = field(default_factory=list)  # id, submit ms, group

    def stage_ids_of(self, groups: set[str]) -> set[int]:
        return {s for s, g in self.stage_group.items() if g in groups}


def _acc(task_info: dict) -> dict[str, int]:
    out: dict[str, int] = {}
    for a in task_info.get("Accumulables", ()):
        name = a.get("Name")
        if name in (_PY_RUN, _PY_SENT, _PY_RECV, _COMMIT):
            out[name] = out.get(name, 0) + int(a.get("Update", 0))
    return out


def fold_event_log(lines) -> EventLog:
    """Fold an uncompressed JSON-lines event log. Lines of other event
    types (notably the large SQL plan events) are skipped unparsed."""
    log = EventLog()
    for line in lines:
        if not line.startswith(_WANTED):
            continue
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            info = e["Task Info"]
            if info.get("Failed") or info.get("Killed"):
                continue
            sw = m.get("Shuffle Write Metrics", {})
            sr = m.get("Shuffle Read Metrics", {})
            om = m.get("Output Metrics", {})
            acc = _acc(info)
            log.tasks.append(Task(
                stage=e["Stage ID"],
                launch_ms=info["Launch Time"],
                run_ms=m.get("Executor Run Time", 0),
                cpu_ns=m.get("Executor CPU Time", 0),
                gc_ms=m.get("JVM GC Time", 0),
                shuffle_write=sw.get("Shuffle Bytes Written", 0),
                shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                spill=m.get("Disk Bytes Spilled", 0),
                out_bytes=om.get("Bytes Written", 0),
                out_records=om.get("Records Written", 0),
                py_run_ms=acc.get(_PY_RUN, 0),
                py_sent=acc.get(_PY_SENT, 0),
                py_recv=acc.get(_PY_RECV, 0),
                commit_ms=acc.get(_COMMIT, 0),
            ))
        elif kind == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            log.stage_group[sid] = (e.get("Properties") or {}).get("spark.jobGroup.id")
            log.stage_submit_ms[sid] = e["Stage Info"].get("Submission Time", 0)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            for a in info.get("Accumulables", ()):
                if a.get("Name") == "internal.metrics.executorCpuTime":
                    sid = info["Stage ID"]
                    log.stage_cpu_ns[sid] = log.stage_cpu_ns.get(sid, 0) + int(a["Value"])
        elif kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            log.jobs.append((e["Job ID"], e["Submission Time"], group))
    return log


def read_event_log(path: str) -> EventLog:
    with open(path) as f:
        return fold_event_log(f)


def group_totals(log: EventLog, groups: set[str]) -> dict:
    """Counters over every task whose stage ran under one of `groups`."""
    stages = log.stage_ids_of(groups)
    t = {k: 0.0 for k in GROUP_KEYS}
    by_stage: dict[int, list[Task]] = {}
    for task in log.tasks:
        if task.stage not in stages:
            continue
        by_stage.setdefault(task.stage, []).append(task)
        t["tasks"] += 1
        t["cpu_s"] += task.cpu_ns / 1e9
        t["run_s"] += task.run_ms / 1e3
        t["gc_s"] += task.gc_ms / 1e3
        t["shuffle_write_bytes"] += task.shuffle_write
        t["shuffle_read_bytes"] += task.shuffle_read
        t["spill_bytes"] += task.spill
        t["output_bytes"] += task.out_bytes
        t["output_records"] += task.out_records
        t["py_worker_s"] += task.py_run_ms / 1e3
        t["py_bytes_sent"] += task.py_sent
        t["py_bytes_returned"] += task.py_recv
        t["commit_s"] += task.commit_ms / 1e3
    t["stages"] = len(by_stage)
    t["shuffle_stages"] = sum(1 for ts in by_stage.values() if any(x.shuffle_write for x in ts))
    t["task_skew"] = task_skew(by_stage)
    return t


def task_skew(by_stage: dict[int, list[Task]]) -> float:
    """max / median task run time in the stage with the most total task
    time among stages of at least two tasks; 1.0 when there is none."""
    multi = [ts for ts in by_stage.values() if len(ts) >= 2]
    if not multi:
        return 1.0
    heaviest = max(multi, key=lambda ts: sum(x.run_ms for x in ts))
    runs = [max(x.run_ms, 1) for x in heaviest]
    return max(runs) / statistics.median(runs)


def window_counts(log: EventLog, t0: float, t1: float) -> dict:
    """Jobs, stages and tasks submitted in [t0, t1] (epoch seconds), with
    their GC time and spill: the engine's view of one iteration."""
    lo, hi = t0 * 1000, t1 * 1000
    stages = {s for s, ms in log.stage_submit_ms.items() if lo <= ms <= hi}
    tasks = [t for t in log.tasks if t.stage in stages]
    return {
        "jobs": sum(1 for _, ms, _ in log.jobs if lo <= ms <= hi),
        "stages": len(stages),
        "tasks": len(tasks),
        "gc_s": sum(t.gc_ms for t in tasks) / 1e3,
        "spill_bytes": sum(t.spill for t in tasks),
    }


def cpu_self_check(
    log: EventLog, groups: set[str], t0: float, t1: float, tolerance: float = 0.02
) -> dict:
    """Per-span executor CPU (summed from task-end events of the span
    groups) against the application's executor CPU over the traced window
    [t0, t1] (summed from the stage-completion totals of every stage
    submitted in it, traced or not). Their difference is the unattributed
    CPU. Raises when it exceeds `tolerance` of the window total (50 ms
    floor): jobs escaped the spans, or the fold lost or double-counted
    tasks."""
    lo, hi = t0 * 1000, t1 * 1000
    window = {s for s, ms in log.stage_submit_ms.items() if lo <= ms <= hi}
    spans = log.stage_ids_of(groups)
    span_cpu = sum(t.cpu_ns for t in log.tasks if t.stage in spans) / 1e9
    app_cpu = sum(log.stage_cpu_ns.get(s, 0) for s in window) / 1e9
    unattributed = app_cpu - span_cpu
    if abs(unattributed) > max(tolerance * app_cpu, 0.05):
        raise RuntimeError(
            f"trace self-check failed: per-span executor CPU {span_cpu:.3f}s vs "
            f"application {app_cpu:.3f}s over the traced window "
            f"(tolerance {tolerance:.0%})"
        )
    return {"span_cpu_s": span_cpu, "app_cpu_s": app_cpu, "unattributed_cpu_s": unattributed}
