"""Reader for Spark's JSON event log.

The benchmark's session writes the log uncompressed
(``spark.eventLog.compress=false``): Spark 4 otherwise compresses it with
zstd, which this reader cannot open without an extra module. Both the
rolling layout (``eventlog_v2_<app>/events_<n>_<app>``) and a single
file are read. Times are epoch seconds.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field


@dataclass
class Stage:
    scopes: set[str] = field(default_factory=set)
    tasks: list[dict] = field(default_factory=list)


@dataclass
class Job:
    start: float
    end: float | None = None
    desc: str | None = None
    stage_ids: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)

    def job_tasks(self, job: Job) -> list[dict]:
        return [t for sid in job.stage_ids for t in self.stages.get(sid, Stage()).tasks]


def _files(log_dir: str) -> list[str]:
    out = []
    for dirpath, _, names in os.walk(log_dir):
        for n in names:
            if n.startswith((".", "appstatus")):  # .crc side files, status marker
                continue
            if n.endswith((".zstd", ".lz4", ".snappy", ".lzf")):
                raise ValueError(f"compressed event log {n}: set spark.eventLog.compress=false")
            out.append(os.path.join(dirpath, n))

    def order(path: str):
        n = os.path.basename(path)
        part = n.split("_")[1] if n.startswith("events_") else "0"
        return (os.path.dirname(path), int(part) if part.isdigit() else 0)

    return sorted(out, key=order)


def _scope_name(rdd: dict) -> str | None:
    scope = rdd.get("Scope")
    if not scope:
        return None
    try:
        return json.loads(scope).get("name")
    except ValueError:
        return None


def read(log_dir: str) -> EventLog:
    log = EventLog()
    for path in _files(log_dir):
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    log.jobs[ev["Job ID"]] = Job(
                        start=ev["Submission Time"] / 1e3,
                        desc=props.get("spark.job.description"),
                        stage_ids=list(ev.get("Stage IDs", [])),
                    )
                    for info in ev.get("Stage Infos", []):
                        st = log.stages.setdefault(info["Stage ID"], Stage())
                        st.scopes.update(
                            n for n in map(_scope_name, info.get("RDD Info", [])) if n
                        )
                elif kind == "SparkListenerJobEnd":
                    job = log.jobs.get(ev["Job ID"])
                    if job is not None:
                        job.end = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    shuffle = m.get("Shuffle Write Metrics") or {}
                    log.stages.setdefault(ev["Stage ID"], Stage()).tasks.append({
                        "launch": info.get("Launch Time", 0) / 1e3,
                        "finish": info.get("Finish Time", 0) / 1e3,
                        "run_s": m.get("Executor Run Time", 0) / 1e3,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "shuffle_bytes": shuffle.get("Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                    })
    return log
