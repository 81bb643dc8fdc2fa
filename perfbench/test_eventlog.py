"""Tests of the event-log parser on a small captured log.

``fixtures/eventlog_two_ops.jsonl`` was captured from a ``local[2]``
session that ran two ops under job groups ``w/p0/op_a`` (a noop-sink
group-by: jobs 0-1, stage 1 skipped by adaptive execution) and
``w/p0/op_b`` (a collected sum: jobs 2-3, stage 4 skipped), trimmed to the
fields the parser reads.

    python3 -m pytest perfbench/test_eventlog.py
"""

from __future__ import annotations

import json
import os

import eventlog

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures",
                       "eventlog_two_ops.jsonl")


def _log() -> eventlog.EventLog:
    with open(FIXTURE, encoding="utf-8") as fh:
        return eventlog.parse_lines(fh)


def test_jobs_carry_their_group_and_stages():
    log = _log()
    assert sorted(log.jobs) == [0, 1, 2, 3]
    assert [j.job_id for j in log.jobs_in_group("w/p0/op_a")] == [0, 1]
    assert [j.job_id for j in log.jobs_in_group("w/p0/op_b")] == [2, 3]
    assert len(log.jobs_in_group("w/p0")) == 4
    assert log.jobs_in_group("w/p0/op") == []  # prefix matches whole path parts
    assert all(j.succeeded for j in log.jobs.values())
    assert log.jobs[1].stage_ids == [1, 2]
    # skipped stages never ran: no tasks, no completion event
    assert sorted(log.stages) == [0, 2, 3, 5]


def test_engine_totals_sum_task_metrics_per_group():
    log = _log()
    a = eventlog.engine_totals(log, log.jobs_in_group("w/p0/op_a"))
    assert a["jobs"] == 2 and a["stages"] == 2 and a["tasks"] == 3
    assert a["shuffle_write_bytes"] == 2 * 182
    assert a["shuffle_read_bytes"] == 364
    assert abs(a["executor_run_s"] - (249 + 253 + 85) / 1e3) < 1e-12
    assert a["spill_bytes"] == 0
    b = eventlog.engine_totals(log, log.jobs_in_group("w/p0/op_b"))
    assert (b["jobs"], b["stages"], b["tasks"]) == (2, 2, 3)
    assert b["shuffle_write_bytes"] == b["shuffle_read_bytes"] == 118
    assert abs(b["executor_run_s"] - (25 + 24 + 18) / 1e3) < 1e-12
    total = eventlog.engine_totals(log, log.jobs_in_group("w"))
    assert total["tasks"] == a["tasks"] + b["tasks"]


def test_shared_stage_counts_once_under_first_job():
    lines = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 0,
         "Stage IDs": [7], "Properties": {"spark.jobGroup.id": "w/p0/x"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5,
         "Stage IDs": [7, 8], "Properties": {"spark.jobGroup.id": "w/p0/y"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 9,
         "Stage IDs": [9], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 7,
         "Task Metrics": {"Executor Run Time": 10, "Disk Bytes Spilled": 4}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 8,
         "Task Metrics": {"Executor Run Time": 20}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 9,
         "Task Metrics": {"Executor Run Time": 40}},
    ]
    log = eventlog.parse_lines(json.dumps(e) for e in lines)
    assert log.jobs[2].group is None
    x = eventlog.engine_totals(log, log.jobs_in_group("w/p0/x"))
    y = eventlog.engine_totals(log, log.jobs_in_group("w/p0/y"))
    assert (x["stages"], x["executor_run_s"], x["spill_bytes"]) == (1, 0.01, 4)
    assert (y["stages"], y["executor_run_s"]) == (1, 0.02)
    assert eventlog.engine_totals(log, log.jobs_in_group("w"))["tasks"] == 2


def test_covered_ms_merges_overlaps_and_clips():
    assert eventlog.covered_ms([], 0, 10) == 0
    assert eventlog.covered_ms([(2, 4), (3, 6), (8, 20)], 0, 10) == 6
    assert eventlog.covered_ms([(-5, 3)], 0, 10) == 3


def test_spans_nest_jobs_and_stages_with_self_time():
    log = _log()
    t_a, t_b = log.jobs[0].start_ms - 35, log.jobs[3].end_ms + 30
    ops = [
        {"name": "w", "kind": "workload", "parent": None, "start_ms": t_a, "end_ms": t_b},
        {"name": "w/p0", "kind": "pass", "parent": "w", "start_ms": t_a, "end_ms": t_b},
        {"name": "w/p0/op_a", "kind": "op", "parent": "w/p0",
         "start_ms": t_a, "end_ms": t_a + 1000},
        {"name": "w/p0/op_b", "kind": "op", "parent": "w/p0",
         "start_ms": t_a + 1000, "end_ms": t_b},
    ]
    spans = {s["name"]: s for s in eventlog.build_spans(log, ops)}
    job0 = spans["w/p0/op_a/job0"]
    assert job0["parent"] == "w/p0/op_a" and job0["kind"] == "job"
    assert spans["w/p0/op_a/job0/stage0"]["tasks"] == 2
    assert "w/p0/op_a/job1/stage1" not in spans  # skipped stage
    # job self time = job wall minus its one stage's wall
    assert job0["self_ms"] == (log.jobs[0].end_ms - log.jobs[0].start_ms) - (
        log.stages[0].end_ms - log.stages[0].start_ms
    )
    # op self time = op wall minus the union of its jobs' walls
    jobs_a = sum(log.jobs[j].end_ms - log.jobs[j].start_ms for j in (0, 1))
    assert spans["w/p0/op_a"]["self_ms"] == 1000 - jobs_a
    # the pass is fully covered by its two ops, the workload by its pass
    assert spans["w/p0"]["self_ms"] == 0 and spans["w"]["self_ms"] == 0
    assert all(s["self_ms"] >= 0 for s in spans.values())
