"""Spark event-log parsing and attribution of each timed call's wall time
to the stages that ran inside it.

The log is Spark's own JSON-lines listener log, written uncompressed
(``spark.eventLog.compress=false``).  A call is a named interval of
driver wall time under its own job group; a job belongs to the call
whose job group it carries, or, for jobs a streaming query submits under
its own group, to the call whose interval contains its submission.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

# stage accumulables summed per stage, by their display name
PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"
_PY_RUN_MS = "time to run Python workers"
_SHUFFLE_WRITE = "internal.metrics.shuffle.write.bytesWritten"
_SHUFFLE_RECORDS = "internal.metrics.shuffle.write.recordsWritten"
_SHUFFLE_READ = ("internal.metrics.shuffle.read.localBytesRead",
                 "internal.metrics.shuffle.read.remoteBytesRead")
_SPILL = ("internal.metrics.memoryBytesSpilled", "internal.metrics.diskBytesSpilled")


@dataclass
class Stage:
    stage_id: int
    site: str
    start_ms: int
    end_ms: int
    tasks: int
    acc: dict[str, float]


@dataclass
class Job:
    job_id: int
    group: str | None
    site: str
    submit_ms: int
    end_ms: int = 0
    stages: list[Stage] = field(default_factory=list)


@dataclass
class Call:
    """One timed call into a layer: its job group and driver interval."""

    name: str
    group: str
    start_ms: int
    end_ms: int
    wall_s: float = 0.0


def parse(lines) -> list[Job]:
    """Jobs with their completed stages, from event-log JSON lines."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(ev["Job ID"], props.get("spark.jobGroup.id"),
                      props.get("callSite.short", ""), ev["Submission Time"])
            jobs[job.job_id] = job
            for sid in ev.get("Stage IDs", ()):
                stage_job[sid] = job.job_id
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            if sid not in stage_job or "Submission Time" not in info:
                continue
            acc: dict[str, float] = defaultdict(float)
            for a in info.get("Accumulables", ()):
                try:
                    acc[a["Name"]] += float(a.get("Value", 0))
                except (TypeError, ValueError):
                    continue
            job = jobs[stage_job[sid]]
            job.stages.append(Stage(
                sid, job.site or info.get("Stage Name", ""),
                info["Submission Time"], info["Completion Time"],
                info["Number of Tasks"], dict(acc)))
    return sorted(jobs.values(), key=lambda j: j.job_id)


def read(path: str) -> list[Job]:
    with open(path, encoding="utf-8") as f:
        return parse(f)


def union_ms(intervals) -> int:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0, None, None
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


def split_by_label(intervals) -> dict[str, float]:
    """Split the union of labelled ``(label, start, end)`` intervals among
    their labels: each instant is shared equally by the intervals active
    at it, so the shares sum to the union."""
    points = sorted({p for _, s, e in intervals for p in (s, e)})
    out: dict[str, float] = defaultdict(float)
    for a, b in zip(points, points[1:]):
        active = [lab for lab, s, e in intervals if s <= a and e >= b]
        for lab in active:
            out[lab] += (b - a) / len(active)
    return dict(out)


def jobs_stage_s(jobs: list[Job]) -> float:
    """Union of the stage intervals of ``jobs``, in seconds."""
    return union_ms((s.start_ms, s.end_ms) for j in jobs for s in j.stages) / 1000.0


def assign(jobs: list[Job], calls: list[Call]) -> dict[str, list[Job]]:
    """Jobs per call group: by job group, else by submission time."""
    out: dict[str, list[Job]] = {c.group: [] for c in calls}
    for job in jobs:
        group = job.group if job.group in out else next(
            (c.group for c in calls if c.start_ms <= job.submit_ms <= c.end_ms), None)
        if group is not None:
            out[group].append(job)
    return out


def call_profile(call: Call, jobs: list[Job]) -> dict:
    """Counts, stage time by call site, and the driver gap of one call.
    ``by_site`` shares plus ``driver_gap_s`` add up to ``wall_s``."""
    stages = [s for j in jobs for s in j.stages]
    clipped = [(s.site, max(s.start_ms, call.start_ms), min(s.end_ms, call.end_ms))
               for s in stages]
    clipped = [(lab, a, b) for lab, a, b in clipped if b > a]
    wall_ms = call.end_ms - call.start_ms
    stage_ms = union_ms((a, b) for _, a, b in clipped)

    def acc(*names):
        return sum(s.acc.get(n, 0.0) for s in stages for n in names)

    return {
        "wall_s": wall_ms / 1000.0,
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s.tasks for s in stages),
        "stage_s": stage_ms / 1000.0,
        "driver_gap_s": (wall_ms - stage_ms) / 1000.0,
        "by_site": {k: v / 1000.0 for k, v in split_by_label(clipped).items()},
        "py_bytes_sent": acc(PY_SENT),
        "py_bytes_returned": acc(_PY_RETURNED),
        "python_s": acc(_PY_RUN_MS) / 1000.0,
        "shuffle_write_bytes": acc(_SHUFFLE_WRITE),
        "shuffle_records": acc(_SHUFFLE_RECORDS),
        "shuffle_read_bytes": acc(*_SHUFFLE_READ),
        "spill_bytes": acc(*_SPILL),
    }
