"""Spark event-log parser and per-operation attribution.

The traced run enables ``spark.eventLog`` (uncompressed) through
``get_spark(extra_conf=…)``. Afterwards :func:`load` reads the log and
:func:`attribute` charges every job to the timed operation whose wall
interval contains the job's submission time. Job groups are not used:
jobs submitted from the engine's own thread pools do not inherit one,
while intervals catch them.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int = 0
    stages: list[int] = field(default_factory=list)


@dataclass
class TaskTotals:
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    input_bytes: float = 0.0
    output_bytes: float = 0.0
    shuffle_read_bytes: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0
    python_ms: float = 0.0

    def add(self, other: "TaskTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stage_tasks: dict[int, TaskTotals] = field(default_factory=dict)


def _python_ms(task_info: dict) -> float:
    """Python-worker time a task's SQL metrics carry. Of the three
    ``time to start / initialize / run Python workers`` timings (in ms)
    only the run time is summed: the other two overlap it."""
    total = 0.0
    for acc in task_info.get("Accumulables", []):
        if acc.get("Name") == "time to run Python workers":
            try:
                total += float(acc.get("Update") or 0)
            except (TypeError, ValueError):
                continue
    return total


def _task_totals(ev: dict) -> TaskTotals:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return TaskTotals(
        tasks=1,
        run_ms=float(m.get("Executor Run Time", 0)),
        cpu_ns=float(m.get("Executor CPU Time", 0)),
        gc_ms=float(m.get("JVM GC Time", 0)),
        input_bytes=float((m.get("Input Metrics") or {}).get("Bytes Read", 0)),
        output_bytes=float((m.get("Output Metrics") or {}).get("Bytes Written", 0)),
        shuffle_read_bytes=float(sr.get("Remote Bytes Read", 0)) + float(sr.get("Local Bytes Read", 0)),
        shuffle_write_bytes=float(sw.get("Shuffle Bytes Written", 0)),
        spill_bytes=float(m.get("Memory Bytes Spilled", 0)) + float(m.get("Disk Bytes Spilled", 0)),
        python_ms=_python_ms(ev.get("Task Info") or {}),
    )


def event_files(log_dir: Path) -> list[Path]:
    """Event files of the one application logged under ``log_dir``, in
    Spark 4's rolling layout (``eventlog_v2_<app>/events_<n>_<app>``)."""
    files = log_dir.glob("eventlog_v2_*/events_*")
    return sorted(files, key=lambda p: int(p.name.split("_")[1]))


def parse_lines(lines) -> EventLog:
    log = EventLog()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            log.jobs[jid] = Job(jid, int(ev["Submission Time"]), stages=list(ev.get("Stage IDs", [])))
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = int(ev["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            log.stage_tasks.setdefault(sid, TaskTotals()).add(_task_totals(ev))
    return log


def load(log_dir: Path) -> EventLog:
    lines = []
    for f in event_files(log_dir):
        with open(f, encoding="utf-8") as fh:
            lines.extend(fh)
    return parse_lines(lines)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class OpProfile:
    jobs: int = 0
    stages: int = 0
    tasks: TaskTotals = field(default_factory=TaskTotals)
    job_union_s: float = 0.0


def attribute(log: EventLog, ops: list[tuple[float, float]]) -> list[OpProfile]:
    """One profile per op ``(start_s, end_s)`` (epoch seconds): jobs
    submitted inside the op's interval, their stages and task totals,
    and the union of their run intervals clipped to the op."""
    import bisect

    out = [OpProfile() for _ in ops]
    spans = sorted(range(len(ops)), key=lambda i: ops[i][0])
    starts = [ops[i][0] for i in spans]

    per_op_intervals: list[list[tuple[float, float]]] = [[] for _ in ops]
    claimed: set[int] = set()
    for job in sorted(log.jobs.values(), key=lambda j: j.job_id):
        t = job.submit_ms / 1000.0
        k = bisect.bisect_right(starts, t) - 1
        i = spans[k] if k >= 0 else None
        if i is None or t > ops[i][1]:
            # outside every op: its stages are still claimed, so an op
            # job that reuses them is not charged for their tasks
            claimed.update(job.stages)
            continue
        s, e = ops[i]
        prof = out[i]
        prof.jobs += 1
        # a stage reused by a later job is listed again but skipped:
        # its tasks belong to the first job that ran it
        for sid in job.stages:
            if sid in log.stage_tasks and sid not in claimed:
                claimed.add(sid)
                prof.stages += 1
                prof.tasks.add(log.stage_tasks[sid])
        end = job.end_ms / 1000.0 if job.end_ms else e
        per_op_intervals[i].append((t, min(end, e)))
    for i, iv in enumerate(per_op_intervals):
        out[i].job_union_s = union_s(iv)
    return out


def jobs_within(log: EventLog, intervals: list[tuple[float, float]]) -> int:
    """Jobs submitted inside any of the ``(start_s, end_s)`` intervals."""
    n = 0
    for job in log.jobs.values():
        t = job.submit_ms / 1000.0
        n += any(s <= t <= e for s, e in intervals)
    return n
