"""Spark event-log parser (stdlib only).

Reads the JSON-lines event log Spark writes with
``spark.eventLog.enabled=true`` and ``spark.eventLog.compress=false`` —
in Spark 4 a rolling ``eventlog_v2_*/events_<n>_*`` directory — and
aggregates jobs, stages and task metrics by Spark job group.  The
benchmark's tracer gives every span its own job group, so a group maps
back to one layer call inside one timed operation.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass, field

#: stage operators that run Python (Arrow or pickled batches) on workers
PYTHON_OPERATORS = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython")

_PART = re.compile(r"^events_(\d+)_")


def event_files(path: str) -> list[str]:
    """The event files under ``path`` in write order: a single file, one
    rolling ``eventlog_v2_*`` dir, or a dir holding several of those
    (applications in start order)."""
    if os.path.isfile(path):
        return [path]
    names = sorted(os.listdir(path))
    parts = [n for n in names if _PART.match(n)]
    if parts:
        parts.sort(key=lambda n: int(_PART.match(n).group(1)))
        return [os.path.join(path, n) for n in parts]
    out: list[str] = []
    apps = [n for n in names if not n.startswith(".")]
    apps.sort(key=lambda n: os.path.getmtime(os.path.join(path, n)))
    for n in apps:
        out += event_files(os.path.join(path, n))
    return out


def read_events(path: str):
    """Yield every event dict under ``path``.  A torn last line (a log
    still being written) is skipped rather than failing the parse."""
    for fname in event_files(path):
        with open(fname, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue


@dataclass
class GroupStats:
    """Aggregates of the jobs that ran under one job group."""

    jobs: int = 0
    failed_jobs: int = 0
    stages: int = 0
    tasks: int = 0
    #: job wall intervals (submit, end) in epoch seconds
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    task_wall_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    python_stage_s: float = 0.0

    def add(self, other: "GroupStats") -> None:
        for name in self.__dataclass_fields__:
            mine = getattr(self, name)
            if isinstance(mine, list):
                mine.extend(getattr(other, name))
            else:
                setattr(self, name, mine + getattr(other, name))

    @property
    def task_wait_s(self) -> float:
        """Task wall time not spent running on an executor (deserialize,
        scheduling inside the task, result handling)."""
        return max(self.task_wall_s - self.executor_run_s, 0.0)


def _is_python_stage(stage_info: dict) -> bool:
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope") or ""
        if any(op in scope or op in rdd.get("Name", "") for op in PYTHON_OPERATORS):
            return True
    return False


def group_stats(events) -> dict[str | None, GroupStats]:
    """Aggregate the log by ``spark.jobGroup.id`` (``None`` = jobs that
    ran without a group).  Stages and tasks are attributed through the
    stage's submit-time properties, which carry the job's group."""
    groups: dict[str | None, GroupStats] = defaultdict(GroupStats)
    job_group: dict[int, str | None] = {}
    job_submit: dict[int, float] = {}
    stage_group: dict[tuple[int, int], str | None] = {}
    python_stage: dict[tuple[int, int], bool] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            jid = e["Job ID"]
            job_group[jid] = g
            job_submit[jid] = e.get("Submission Time", 0) / 1000.0
            groups[g].jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            g = job_group.get(jid)
            st = groups[g]
            end = e.get("Completion Time", 0) / 1000.0
            st.job_intervals.append((job_submit.get(jid, end), end))
            if (e.get("Job Result") or {}).get("Result") != "JobSucceeded":
                st.failed_jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            stage_group[key] = g
            python_stage[key] = _is_python_stage(info)
            groups[g].stages += 1
        elif kind == "SparkListenerTaskEnd":
            key = (e["Stage ID"], e.get("Stage Attempt ID", 0))
            st = groups[stage_group.get(key)]
            info = e.get("Task Info") or {}
            m = e.get("Task Metrics") or {}
            run_s = m.get("Executor Run Time", 0) / 1000.0
            st.tasks += 1
            st.executor_run_s += run_s
            st.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1000.0
            st.task_wall_s += max(
                info.get("Finish Time", 0) - info.get("Launch Time", 0), 0
            ) / 1000.0
            rd = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            st.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            if python_stage.get(key):
                st.python_stage_s += run_s
    return dict(groups)


def merge(stats: dict[str | None, GroupStats], groups) -> GroupStats:
    """One GroupStats over several groups (missing groups count as 0)."""
    out = GroupStats()
    for g in groups:
        if g in stats:
            out.add(stats[g])
    return out
