"""Spark event-log reader: per-job task totals.

Every job carries its group (``spark.jobGroup.id``), submission and
completion times (epoch ms, the same clock as ``time.time()``) and the
sum of its tasks' run time, CPU time, GC time, input, shuffle and spill.
Layers are then attributed either by job group (the prefix ledgers) or
by the job's submission time falling inside a request's span.
"""

from __future__ import annotations

import glob
import json
import os

METRICS = (
    "tasks", "run_s", "cpu_s", "gc_s", "input_bytes", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes",
)


def read_jobs(event_dir: str) -> list[dict]:
    paths = [p for p in glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)
             if os.path.isfile(p)]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in paths:
        with open(path, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "job_id": jid,
                        "group": props.get("spark.jobGroup.id"),
                        "submit": ev.get("Submission Time", 0) / 1000.0,
                        "end": None,
                        **{m: 0 for m in METRICS},
                    }
                    for sid in ev.get("Stage IDs") or []:
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get(ev["Job ID"])
                    if job is not None:
                        job["end"] = ev.get("Completion Time", 0) / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    if job is None:
                        continue
                    tm = ev.get("Task Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    job["tasks"] += 1
                    job["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    job["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    job["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    job["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                    job["shuffle_write_bytes"] += (
                        tm.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    job["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    job["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
    return sorted(jobs.values(), key=lambda j: j["job_id"])


def total(jobs: list[dict]) -> dict:
    out = {m: 0 for m in METRICS}
    out["jobs"] = len(jobs)
    for j in jobs:
        for m in METRICS:
            out[m] += j[m]
    return out


def by_group(jobs: list[dict], group: str) -> dict:
    return total([j for j in jobs if j["group"] == group])


def within(jobs: list[dict], spans: list[dict]) -> dict:
    """Totals of the jobs submitted inside any of ``spans``."""
    return total([
        j for j in jobs if any(s["start"] <= j["submit"] <= s["end"] for s in spans)
    ])
