"""The event-log reducer on a small recorded log (see record_eventlog.py)."""

import json
import os

import pytest

import evlog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog-small.jsonl")


def _events():
    with open(LOG, encoding="utf-8") as f:
        return [json.loads(line) for line in f]


def test_one_record_per_started_job():
    jobs = evlog.read_jobs(LOG)
    starts = [e for e in _events() if e["Event"] == "SparkListenerJobStart"]
    assert [j.job_id for j in jobs] == sorted(e["Job ID"] for e in starts)
    assert all(j.end_ms >= j.submit_ms > 0 for j in jobs)


def test_groups_and_call_sites():
    jobs = evlog.read_jobs(LOG)
    construct = [j for j in jobs if j.group == "w/op@0/construct"]
    execute = [j for j in jobs if j.group == "w/op@0/execute"]
    untagged = [j for j in jobs if j.group is None]
    assert len(construct) + len(execute) + len(untagged) == len(jobs)
    # the schema-inference read, then the collect
    assert [j.call_kind for j in construct] == ["parquet", "collect"]
    # the noop write: an adaptive shuffle-stage job, then its save job
    assert [j.call_kind for j in execute][-1] == "save"
    assert len(execute) == 2 and execute[0].shuffle_write_bytes > 0
    assert execute[1].shuffle_read_bytes == execute[0].shuffle_write_bytes
    assert untagged


def test_task_and_stage_sums_match_the_log():
    jobs = evlog.read_jobs(LOG)
    events = _events()
    task_ends = [e for e in events if e["Event"] == "SparkListenerTaskEnd"]
    assert sum(j.tasks for j in jobs) == len(task_ends)
    assert sum(j.stages for j in jobs) == sum(
        1 for e in events if e["Event"] == "SparkListenerStageSubmitted")
    metrics = [e["Task Metrics"] for e in task_ends]
    assert sum(j.run_ms for j in jobs) == sum(
        m["Executor Run Time"] for m in metrics)
    assert sum(j.cpu_ns for j in jobs) == sum(
        m["Executor CPU Time"] for m in metrics)
    written = sum(m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                  for m in metrics)
    assert written > 0
    assert sum(j.shuffle_write_bytes for j in jobs) == written
    assert sum(j.shuffle_read_bytes for j in jobs) == sum(
        m["Shuffle Read Metrics"]["Local Bytes Read"]
        + m["Shuffle Read Metrics"]["Remote Bytes Read"] for m in metrics)


def test_other_events_are_skipped():
    kinds = {e["Event"] for e in _events()}
    assert any(k.endswith("SQLExecutionEnd") for k in kinds)
    evlog.read_jobs(LOG)  # parses without touching the SQL event


@pytest.mark.parametrize("spans, lo, hi, want", [
    ([], 0.0, 10.0, 0.0),
    ([(1.0, 3.0), (2.0, 4.0)], 0.0, 10.0, 3.0),
    ([(1.0, 3.0), (5.0, 6.0)], 0.0, 10.0, 3.0),
    ([(-5.0, 2.0), (8.0, 20.0)], 0.0, 10.0, 4.0),
    ([(1.0, 9.0), (2.0, 3.0)], 0.0, 10.0, 8.0),
])
def test_covered_seconds(spans, lo, hi, want):
    assert evlog.covered_seconds(spans, lo, hi) == pytest.approx(want)
