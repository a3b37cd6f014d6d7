"""Spark event-log reader for the traced run.

Reads the JSON-lines log Spark writes with ``spark.eventLog.enabled``
and attributes every job, with its tasks, to a span: first by the job
group the tracer set (``span-<id>``), otherwise by time window, to the
innermost span that was open when the job was submitted (jobs from
untagged pool threads inside ``materialize_graph``).

Per span it sums jobs, tasks, task run time, scheduler wait (task launch
minus stage submission), shuffle bytes written, bytes spilled, GC time
and output bytes, and keeps the task durations of each stage so task
skew can be computed.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field


@dataclass
class JobStats:
    job_id: int
    submit_ms: int
    group: str | None
    stage_ids: list[int]
    jobs: int = 1
    tasks: int = 0
    task_run_ms: int = 0
    wait_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_ms: int = 0
    output_bytes: int = 0
    task_ms_by_stage: dict[int, list[int]] = field(default_factory=dict)


def read_jobs(path: str) -> list[JobStats]:
    """Parse one event-log file into per-job stats."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, int] = {}
    tasks: list[dict] = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            try:
                ev = json.loads(line)
            except ValueError:
                # the line Spark is writing when a running log is read
                continue
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                j = JobStats(
                    job_id=ev["Job ID"],
                    submit_ms=ev["Submission Time"],
                    group=props.get("spark.jobGroup.id"),
                    stage_ids=list(ev.get("Stage IDs", [])),
                )
                jobs[j.job_id] = j
                for sid in j.stage_ids:
                    stage_job[sid] = j.job_id
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                if info.get("Submission Time") is not None:
                    stage_submit[info["Stage ID"]] = info["Submission Time"]
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
    for ev in tasks:
        sid = ev["Stage ID"]
        j = jobs.get(stage_job.get(sid, -1))
        if j is None:
            continue
        info = ev.get("Task Info", {})
        m = ev.get("Task Metrics") or {}
        dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
        j.tasks += 1
        j.task_run_ms += m.get("Executor Run Time", 0)
        if sid in stage_submit:
            j.wait_ms += max(0, info.get("Launch Time", 0) - stage_submit[sid])
        j.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        j.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        j.gc_ms += m.get("JVM GC Time", 0)
        j.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
        j.task_ms_by_stage.setdefault(sid, []).append(dur)
    return sorted(jobs.values(), key=lambda j: j.job_id)


def attribute(jobs: list[JobStats], spans: list[dict]) -> dict[int, list[JobStats]]:
    """span id -> jobs. ``spans`` carry id, start, end (epoch seconds)."""
    by_group = {f"span-{s['id']}": s["id"] for s in spans}
    out: dict[int, list[JobStats]] = {}
    for j in jobs:
        sid = by_group.get(j.group or "")
        if sid is None:
            t = j.submit_ms / 1000.0
            open_spans = [s for s in spans if s["start"] <= t <= s["end"]]
            if not open_spans:
                continue
            sid = max(open_spans, key=lambda s: s["start"])["id"]
        out.setdefault(sid, []).append(j)
    return out


def totals(jobs: list[JobStats]) -> dict[str, float]:
    """Summed stats of a job set, in seconds / MB."""
    return {
        "jobs": float(len(jobs)),
        "tasks": float(sum(j.tasks for j in jobs)),
        "task_run_s": sum(j.task_run_ms for j in jobs) / 1000.0,
        "job_wait_s": sum(j.wait_ms for j in jobs) / 1000.0,
        "shuffle_write_mb": sum(j.shuffle_write_bytes for j in jobs) / 1e6,
        "spill_mb": sum(j.spill_bytes for j in jobs) / 1e6,
        "gc_s": sum(j.gc_ms for j in jobs) / 1000.0,
        "output_mb": sum(j.output_bytes for j in jobs) / 1e6,
    }


def task_skew(jobs: list[JobStats]) -> float:
    """max/median task duration of the stage with the most task time
    (1.0 when there is no stage with at least two tasks)."""
    stages = [d for j in jobs for d in j.task_ms_by_stage.values() if len(d) >= 2]
    if not stages:
        return 1.0
    heavy = max(stages, key=sum)
    med = statistics.median(heavy)
    return max(heavy) / med if med > 0 else 1.0
