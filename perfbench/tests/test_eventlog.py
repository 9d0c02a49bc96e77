"""The event-log parser against a small log recorded from Spark 4.1:
job 0 (group r1) shuffles 1000 rows, job 1 (r1) reads that shuffle,
job 2 (r2) writes 100 rows of parquet."""

from __future__ import annotations

import os

import pytest

from perfbench import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def jobs():
    return eventlog.parse_jobs(eventlog.read_events(FIXTURE))


def test_jobs_and_counters(jobs):
    assert sorted(jobs) == [0, 1, 2]
    assert [jobs[i].group for i in range(3)] == ["r1", "r1", "r2"]
    assert jobs[0].tasks == 4 and jobs[0].input_records == 1000
    assert jobs[0].shuffle_write_bytes == jobs[1].shuffle_read_bytes > 0
    assert jobs[2].output_records == 100 and jobs[2].output_bytes > 0
    assert all(j.start <= j.end for j in jobs.values())


def test_attribution_by_group_then_by_time(jobs):
    t0, t2 = jobs[0].start, jobs[2].start
    spans = [
        {"id": 1, "rid": "r1", "start": t0 - 0.01, "end": jobs[1].end},
        {"id": 2, "rid": None, "start": t0 - 1, "end": t2 + 5},
        {"id": 3, "rid": None, "start": t2 - 0.1, "end": t2 + 1},
        # a span that reuses group r2 but ended before job 2 started
        {"id": 4, "rid": "r2", "start": t0 - 5, "end": t0 - 4},
    ]
    got = eventlog.attribute(jobs, spans)
    assert [j.id for j in got[1]] == [0, 1]
    assert [j.id for j in got[3]] == [2]  # innermost holder, not the stale group
    assert got[2] == [] and got[4] == []


def test_counters_and_driver_gap(jobs):
    span = {"start": jobs[0].start - 1.0, "end": jobs[1].end + 1.0}
    c = eventlog.counters(span, [jobs[0], jobs[1]])
    assert c["jobs"] == 2 and c["tasks"] == 5
    busy = (jobs[0].end - jobs[0].start) + (jobs[1].end - jobs[1].start)
    assert c["driver_gap_ms"] == pytest.approx((span["end"] - span["start"] - busy) * 1e3)
