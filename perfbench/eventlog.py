"""Offline Spark event-log parser (standard library only).

Reads an uncompressed, non-rolling JSON event log (one JSON object per
line) and attributes every Spark job to the benchmark operation that
submitted it through the job-group property the benchmark sets around each
call (``spark.jobGroup.id`` = ``<workload>/<pass>/<op>``):

    SparkListenerJobStart  -> job: group, submit time, stage ids
    SparkListenerJobEnd    -> job: completion time
    SparkListenerStageCompleted -> stage: submit/complete time, task count
    SparkListenerTaskEnd   -> stage: summed task metrics

:func:`engine_totals` sums the task metrics of a set of jobs into the
``engine.*`` counters; :func:`build_spans` nests the jobs and stages under
the benchmark's own op spans and computes each span's self time.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Stage:
    stage_id: int
    start_ms: int = 0
    end_ms: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class Job:
    job_id: int
    group: str | None
    start_ms: int
    end_ms: int = 0
    stage_ids: list[int] = field(default_factory=list)
    succeeded: bool = False


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]

    def stage_owner(self) -> dict[int, int]:
        """Stage id -> the first job that lists it (a shuffle-map stage
        shared by later jobs runs once, under the job that submitted it)."""
        owner: dict[int, int] = {}
        for job_id in sorted(self.jobs):
            for sid in self.jobs[job_id].stage_ids:
                owner.setdefault(sid, job_id)
        return owner

    def jobs_in_group(self, prefix: str) -> list[Job]:
        return [
            j
            for j in self.jobs.values()
            if j.group is not None
            and (j.group == prefix or j.group.startswith(prefix + "/"))
        ]


def _task_metrics(stage: Stage, metrics: dict) -> None:
    read = metrics.get("Shuffle Read Metrics", {})
    write = metrics.get("Shuffle Write Metrics", {})
    stage.tasks += 1
    stage.run_ms += metrics.get("Executor Run Time", 0)
    stage.cpu_ns += metrics.get("Executor CPU Time", 0)
    stage.gc_ms += metrics.get("JVM GC Time", 0)
    stage.shuffle_read_bytes += read.get("Remote Bytes Read", 0) + read.get(
        "Local Bytes Read", 0
    )
    stage.shuffle_write_bytes += write.get("Shuffle Bytes Written", 0)
    stage.spill_bytes += metrics.get("Disk Bytes Spilled", 0)


def parse_lines(lines) -> EventLog:
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = Job(
                job_id=ev["Job ID"],
                group=(ev.get("Properties") or {}).get(GROUP_KEY),
                start_ms=ev["Submission Time"],
                stage_ids=list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
                job.succeeded = ev["Job Result"]["Result"] == "JobSucceeded"
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            st.start_ms = info.get("Submission Time", 0)
            st.end_ms = info.get("Completion Time", 0)
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
            _task_metrics(st, ev.get("Task Metrics") or {})
    return EventLog(jobs, stages)


def parse_dir(path: str) -> EventLog:
    """Parse every event-log file under ``path`` (one per application)."""
    lines: list[str] = []
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if os.path.isfile(full) and not name.startswith("."):
            with open(full, encoding="utf-8") as fh:
                lines.extend(fh)
    return parse_lines(lines)


def engine_totals(log: EventLog, jobs: list[Job]) -> dict[str, float]:
    """Sum the stage metrics of ``jobs`` (each stage counted once, under
    the job that ran it)."""
    owner = log.stage_owner()
    ids = {j.job_id for j in jobs}
    stages = [
        log.stages[sid]
        for sid, job_id in owner.items()
        if job_id in ids and sid in log.stages
    ]
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s.tasks for s in stages),
        "shuffle_read_bytes": sum(s.shuffle_read_bytes for s in stages),
        "shuffle_write_bytes": sum(s.shuffle_write_bytes for s in stages),
        "spill_bytes": sum(s.spill_bytes for s in stages),
        "executor_run_s": sum(s.run_ms for s in stages) / 1e3,
        "executor_cpu_s": sum(s.cpu_ns for s in stages) / 1e9,
        "gc_s": sum(s.gc_ms for s in stages) / 1e3,
    }


def covered_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_end = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


def _span(name, kind, parent, start_ms, end_ms, children, **extra) -> dict:
    dur = max(end_ms - start_ms, 0)
    busy = covered_ms([(c["start_ms"], c["end_ms"]) for c in children], start_ms, end_ms)
    return {
        "name": name,
        "kind": kind,
        "parent": parent,
        "start_ms": start_ms,
        "end_ms": end_ms,
        "self_ms": dur - busy,
        **extra,
    }


def build_spans(log: EventLog, op_spans: list[dict]) -> list[dict]:
    """Nest Spark jobs and stages under the benchmark's spans.

    ``op_spans`` are the benchmark's own spans (``kind`` workload, pass or
    op; ``name`` is the job-group path; ``parent`` the enclosing name).
    Returns all spans, each with its self time: its duration minus the
    part of it that its child spans cover.
    """
    owner = log.stage_owner()
    by_group: dict[str, list[Job]] = {}
    for job in log.jobs.values():
        if job.group is not None:
            by_group.setdefault(job.group, []).append(job)
    out: list[dict] = []
    children: dict[str, list[dict]] = {}
    for op in op_spans:
        if op["kind"] != "op":
            continue
        for job in sorted(by_group.get(op["name"], []), key=lambda j: j.job_id):
            jname = f"{op['name']}/job{job.job_id}"
            stage_spans = []
            for sid in job.stage_ids:
                st = log.stages.get(sid)
                if st is None or owner.get(sid) != job.job_id or not st.end_ms:
                    continue
                stage_spans.append(
                    _span(f"{jname}/stage{sid}", "stage", jname, st.start_ms,
                          st.end_ms, [], tasks=st.tasks,
                          executor_run_ms=st.run_ms,
                          shuffle_read_bytes=st.shuffle_read_bytes,
                          shuffle_write_bytes=st.shuffle_write_bytes,
                          spill_bytes=st.spill_bytes)
                )
            job_span = _span(jname, "job", op["name"], job.start_ms,
                             job.end_ms or job.start_ms, stage_spans,
                             succeeded=job.succeeded)
            children.setdefault(op["name"], []).append(job_span)
            out.extend(stage_spans)
            out.append(job_span)
    for sp in op_spans:
        if sp["parent"]:
            children.setdefault(sp["parent"], []).append(sp)
    for sp in op_spans:
        kids = children.get(sp["name"], [])
        out.append(_span(sp["name"], sp["kind"], sp["parent"], sp["start_ms"],
                         sp["end_ms"], kids))
    return out
