"""Reduce a Spark event log to per-job records.

The traced run enables Spark's own event log (uncompressed, not rolling:
one JSON object per line). Only four event kinds matter here, so every
other line is skipped by its ``"Event"`` prefix before any JSON parsing —
the SQL plan events are most of the file's bytes.

A job's *group* is the ``spark.jobGroup.id`` the benchmark set when the job
started (``<workload>/<op>/<phase>``); its *call site* is the name of its
result stage, e.g. ``"parquet at NativeMethodAccessorImpl.java:0"`` for a
schema-inference read or ``"localCheckpoint at …"``.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass

_EVENT_RE = re.compile(r'\{"Event":"([A-Za-z.]+)"')
_KEPT = frozenset({"SparkListenerJobStart", "SparkListenerJobEnd",
                   "SparkListenerStageSubmitted", "SparkListenerTaskEnd"})


@dataclass
class Job:
    job_id: int
    group: str | None
    call_site: str
    submit_ms: int
    end_ms: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0          # Σ executor run time of its tasks
    cpu_ns: int = 0          # Σ executor CPU time
    gc_ms: int = 0           # Σ JVM GC time
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0     # Σ bytes spilled to disk

    @property
    def call_kind(self) -> str:
        """First word of the call site: ``parquet``, ``collect``, …"""
        return self.call_site.split(" ", 1)[0]


def read_jobs(path: str) -> list[Job]:
    """Jobs of one event log, in job-id order."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            m = _EVENT_RE.match(line)
            if m is None or m.group(1) not in _KEPT:
                continue
            kind, ev = m.group(1), json.loads(line)
            if kind == "SparkListenerJobStart":
                ids = ev["Stage IDs"]
                names = {s["Stage ID"]: s["Stage Name"]
                         for s in ev.get("Stage Infos", [])}
                job = Job(ev["Job ID"],
                          (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                          names.get(max(ids), "") if ids else "",
                          ev["Submission Time"])
                jobs[job.job_id] = job
                for sid in ids:
                    # the first job that lists a stage is the one that runs it
                    stage_job.setdefault(sid, job.job_id)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                job_id = stage_job.get(ev["Stage Info"]["Stage ID"])
                if job_id is not None:
                    jobs[job_id].stages += 1
            else:
                job_id = stage_job.get(ev["Stage ID"])
                if job_id is not None:
                    _add_task(jobs[job_id], ev.get("Task Metrics") or {})
    return [jobs[k] for k in sorted(jobs)]


def _add_task(job: Job, tm: dict) -> None:
    job.tasks += 1
    job.run_ms += tm.get("Executor Run Time", 0)
    job.cpu_ns += tm.get("Executor CPU Time", 0)
    job.gc_ms += tm.get("JVM GC Time", 0)
    sr = tm.get("Shuffle Read Metrics") or {}
    job.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                               + sr.get("Local Bytes Read", 0))
    job.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0)
    job.spill_bytes += tm.get("Disk Bytes Spilled", 0)


def covered_seconds(spans: list[tuple[float, float]], lo: float,
                    hi: float) -> float:
    """Length of the union of ``spans`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(spans):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
