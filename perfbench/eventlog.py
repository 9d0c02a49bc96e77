"""Spark event-log parser for traced runs.

A traced run starts the session with ``spark.eventLog.enabled`` (see
common.prepare_env). This module reads the JSON event lines back, sums
task counters per job, and hands each job to the benchmark span that
caused it: by job group where the span set one (``setJobGroup`` with
the span's request id), else the innermost candidate span whose
interval holds the job's submission time.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from perfbench.common import covered

#: event-log times are whole milliseconds
SLACK_S = 0.002

COUNTERS = (
    "tasks",
    "executor_run_ms",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "input_bytes",
    "input_records",
    "output_bytes",
    "output_records",
)


@dataclass
class Job:
    id: int
    group: str | None
    start: float  # unix seconds
    end: float | None = None
    tasks: int = 0
    executor_run_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    output_records: int = 0


def read_events(path: str):
    """Event dicts from one event-log file, or every log file in a directory."""
    files = [path]
    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f) for f in os.listdir(path) if not f.startswith((".", "appstatus"))
        )
    for f in files:
        if os.path.isdir(f):
            yield from read_events(f)
            continue
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def parse_jobs(events) -> dict[int, Job]:
    """Job id -> Job with its tasks' counters summed. A stage's tasks
    count toward the latest job that lists the stage."""
    jobs: dict[int, Job] = {}
    owner: dict[int, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = Job(e["Job ID"], props.get("spark.jobGroup.id"), e["Submission Time"] / 1e3)
            jobs[job.id] = job
            for sid in e.get("Stage IDs", []):
                owner[sid] = job.id
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd" and e.get("Stage ID") in owner:
            job = jobs[owner[e["Stage ID"]]]
            m = e.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            inp = m.get("Input Metrics") or {}
            out = m.get("Output Metrics") or {}
            job.tasks += 1
            job.executor_run_ms += m.get("Executor Run Time", 0)
            job.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            job.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            job.spill_bytes += m.get("Disk Bytes Spilled", 0)
            job.input_bytes += inp.get("Bytes Read", 0)
            job.input_records += inp.get("Records Read", 0)
            job.output_bytes += out.get("Bytes Written", 0)
            job.output_records += out.get("Records Written", 0)
    for job in jobs.values():
        if job.end is None:
            job.end = job.start
    return jobs


def attribute(jobs: dict[int, Job], spans: list[dict]) -> dict[int, list[Job]]:
    """Span id -> the jobs it caused, for the given candidate spans."""
    by_rid = {s["rid"]: s for s in spans if s.get("rid")}
    out: dict[int, list[Job]] = {s["id"]: [] for s in spans}
    for job in sorted(jobs.values(), key=lambda j: j.id):
        span = by_rid.get(job.group)
        # a thread keeps its job group after the span ends: trust the
        # group only for jobs submitted inside the span's interval
        if span is not None and not span["start"] - SLACK_S <= job.start <= span["end"] + SLACK_S:
            span = None
        if span is None:
            holders = [s for s in spans if s["start"] <= job.start <= s["end"]]
            if not holders:
                continue
            span = max(holders, key=lambda s: s["start"])
        out[span["id"]].append(job)
    return out


def counters(span: dict, jobs: list[Job]) -> dict[str, float]:
    """A span's job count, summed task counters, and driver gap: the
    part of the span no job of it was running."""
    out = {"jobs": len(jobs)}
    for c in COUNTERS:
        out[c] = sum(getattr(j, c) for j in jobs)
    busy = covered([(j.start, j.end) for j in jobs], span["start"], span["end"])
    out["driver_gap_ms"] = (span["end"] - span["start"] - busy) * 1e3
    return out
