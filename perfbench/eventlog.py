"""Minimal reader for an uncompressed Spark event log.

It keeps, per job group (``spark.jobGroup.id``), the counters the
traced run reports: jobs with their [submit, end] intervals, stages run
and skipped, tasks and failed tasks, executor run/CPU/GC seconds,
shuffle read/write bytes, spill bytes, input bytes and records, and
output bytes.  Events it does not need are ignored, so newer Spark
versions that add fields or event types still parse.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"

COUNTERS = (
    "jobs", "stages", "skipped_stages", "tasks", "failed_tasks",
    "run_s", "cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "input_bytes", "input_records", "output_bytes",
)


@dataclass
class GroupStats:
    """Counters for the jobs of one job group."""

    counters: dict[str, float] = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))
    #: (submit, end) of each job, epoch seconds
    job_intervals: list[tuple[float, float]] = field(default_factory=list)


def parse(lines) -> dict[str | None, GroupStats]:
    """Fold event-log lines into per-job-group counters.

    Jobs started outside any group are keyed by ``None``.  A stage that
    a job lists but does not run after the job starts (its output
    already exists) counts as skipped for that job.
    """
    groups: dict[str | None, GroupStats] = {}
    job_group: dict[int, str | None] = {}
    job_start: dict[int, float] = {}
    job_stages: dict[int, list[int]] = {}
    stage_group: dict[int, str | None] = {}
    job_seq: dict[int, int] = {}
    submitted_seq: dict[int, int] = {}

    def g(key):
        return groups.setdefault(key, GroupStats())

    for seq, line in enumerate(lines):
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            key = (ev.get("Properties") or {}).get(GROUP_KEY)
            job_group[jid] = key
            job_start[jid] = ev["Submission Time"] / 1000.0
            job_seq[jid] = seq
            job_stages[jid] = list(ev.get("Stage IDs", []))
            for sid in job_stages[jid]:
                stage_group.setdefault(sid, key)
            g(key).counters["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            key = job_group.get(jid)
            g(key).job_intervals.append((job_start.get(jid, ev["Completion Time"] / 1000.0),
                                         ev["Completion Time"] / 1000.0))
            for sid in job_stages.get(jid, []):
                if submitted_seq.get(sid, -1) < job_seq.get(jid, 0):
                    g(key).counters["skipped_stages"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            key = (ev.get("Properties") or {}).get(GROUP_KEY, stage_group.get(sid))
            stage_group[sid] = key
            submitted_seq[sid] = seq
            g(key).counters["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            c = g(stage_group.get(ev["Stage ID"])).counters
            c["tasks"] += 1
            if (ev.get("Task Info") or {}).get("Failed") or \
                    (ev.get("Task End Reason") or {}).get("Reason", "Success") != "Success":
                c["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            c["run_s"] += m.get("Executor Run Time", 0) / 1e3
            c["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            im = m.get("Input Metrics") or {}
            c["input_bytes"] += im.get("Bytes Read", 0)
            c["input_records"] += im.get("Records Read", 0)
            c["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return groups


def parse_file(path: str) -> dict[str | None, GroupStats]:
    with open(path, encoding="utf-8") as f:
        return parse(f)


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
