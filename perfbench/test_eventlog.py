"""The event-log reader on a tiny recorded log.

testdata/tiny_eventlog.jsonl was recorded from a local[2] session with
event logging on, trimmed to the four event types the reader uses:
- job 0: a 4-task groupBy under job group ``span-0``;
- jobs 1 and 2: untagged counts, submitted about 0.8 s after job 0 ended.

Run with ``python3 -m pytest -q perfbench/test_eventlog.py``.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata",
                   "tiny_eventlog.jsonl")


def test_read_jobs():
    jobs = eventlog.read_jobs(LOG)
    assert [j.job_id for j in jobs] == [0, 1, 2]
    assert [j.group for j in jobs] == ["span-0", None, None]
    assert [j.tasks for j in jobs] == [4, 2, 1]
    assert jobs[0].task_run_ms == 280
    assert jobs[0].wait_ms == 772
    assert jobs[1].shuffle_write_bytes == 118
    assert jobs[0].task_ms_by_stage == {0: [207, 200, 49, 54]}


def test_attribute_by_group_then_innermost_window():
    jobs = eventlog.read_jobs(LOG)
    t_untagged = jobs[1].submit_ms / 1000.0
    spans = [
        {"id": 0, "start": jobs[0].submit_ms / 1000.0 - 1, "end": t_untagged - 0.1},
        {"id": 1, "start": t_untagged - 0.01, "end": t_untagged + 1},
        {"id": 2, "start": 0.0, "end": t_untagged + 2},   # outer span
        {"id": 3, "start": 0.0, "end": 1.0},              # closed long before
    ]
    owner = eventlog.attribute(jobs, spans)
    assert [j.job_id for j in owner[0]] == [0]
    assert [j.job_id for j in owner[1]] == [1, 2]
    assert 2 not in owner and 3 not in owner


def test_untagged_job_outside_every_span_is_dropped():
    jobs = eventlog.read_jobs(LOG)
    owner = eventlog.attribute(jobs, [{"id": 0, "start": 0.0, "end": 1.0}])
    assert owner == {0: [jobs[0]]}


def test_totals_and_skew():
    jobs = eventlog.read_jobs(LOG)
    t = eventlog.totals(jobs)
    assert t["jobs"] == 3 and t["tasks"] == 7
    assert t["task_run_s"] == (280 + 107 + 36) / 1000.0
    assert t["shuffle_write_mb"] == 118 / 1e6
    # heaviest stage is stage 0: max 207 over median (54 + 200) / 2
    assert eventlog.task_skew(jobs) == 207 / 127.0
    assert eventlog.task_skew(jobs[2:]) == 1.0
