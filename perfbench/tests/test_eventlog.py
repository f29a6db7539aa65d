"""The event-log reader against a short recorded Spark 4.1 event log.

``data/eventlog_small.jsonl`` was recorded from a ``local[2]`` session
with an uncompressed event log: job group ``agg`` collected a grouped
count (a map stage and a result stage), job group ``again`` collected
the same RDD (its map stage is skipped, the shuffle output exists), and
one job ran outside any group.  Only the event types the reader uses,
plus the log and application start/end, were kept, and bulky fields it
does not read (accumulables, RDD info, most properties) were dropped.

Run with ``python -m pytest perfbench/tests -q`` from the repository root.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import eventlog  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def groups():
    return eventlog.parse_file(LOG)


def test_jobs_are_keyed_by_group(groups):
    assert set(groups) == {"agg", "again", None}
    assert [groups[k].counters["jobs"] for k in ("agg", "again", None)] == [1, 1, 1]


def test_stages_run_and_skipped(groups):
    assert groups["agg"].counters["stages"] == 2
    assert groups["agg"].counters["skipped_stages"] == 0
    assert groups["again"].counters["stages"] == 1
    assert groups["again"].counters["skipped_stages"] == 1


def test_task_counters(groups):
    agg, again = groups["agg"].counters, groups["again"].counters
    assert (agg["tasks"], again["tasks"]) == (4, 2)
    assert agg["failed_tasks"] == again["failed_tasks"] == 0
    assert agg["input_records"] == 1000
    # the map stage's shuffle output is read by both jobs
    assert agg["shuffle_write_bytes"] == agg["shuffle_read_bytes"] == again["shuffle_read_bytes"]
    assert again["shuffle_write_bytes"] == 0
    assert agg["run_s"] > 0 and 0 < agg["cpu_s"] <= agg["run_s"]


def test_task_metrics_sum_from_the_raw_events(groups):
    with open(LOG) as f:
        events = [json.loads(line) for line in f]
    run_ms = sum(e["Task Metrics"]["Executor Run Time"] for e in events
                 if e["Event"] == "SparkListenerTaskEnd")
    total = sum(g.counters["run_s"] for g in groups.values())
    assert total == pytest.approx(run_ms / 1e3)


def test_job_intervals(groups):
    ((start, end),) = groups["agg"].job_intervals
    assert 0 < start <= end


def test_failed_task_is_counted():
    lines = [
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
                    "Stage IDs": [0], "Properties": {eventlog.GROUP_KEY: "g"}}),
        json.dumps({"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
                    "Properties": {eventlog.GROUP_KEY: "g"}}),
        json.dumps({"Event": "SparkListenerTaskEnd", "Stage ID": 0,
                    "Task End Reason": {"Reason": "ExceptionFailure"},
                    "Task Info": {"Failed": True}}),
        json.dumps({"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000}),
    ]
    g = eventlog.parse(lines)["g"]
    assert (g.counters["tasks"], g.counters["failed_tasks"]) == (1, 1)
    assert g.job_intervals == [(1.0, 3.0)]


@pytest.mark.parametrize(
    "intervals, lo, hi, want",
    [
        ([], 0.0, 10.0, 0.0),
        ([(1.0, 3.0), (2.0, 4.0)], 0.0, 10.0, 3.0),
        ([(1.0, 2.0), (5.0, 6.0)], 0.0, 10.0, 2.0),
        ([(-5.0, 2.0), (8.0, 20.0)], 0.0, 10.0, 4.0),
        ([(1.0, 9.0), (2.0, 3.0)], 0.0, 10.0, 8.0),
    ],
)
def test_union_length(intervals, lo, hi, want):
    assert eventlog.union_length(intervals, lo, hi) == pytest.approx(want)
