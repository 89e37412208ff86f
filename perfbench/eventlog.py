"""Per-job-group task accounting from an uncompressed Spark event log.

The traced run tags every job with ``SparkContext.setJobGroup(<span>)``.
This module maps each ``SparkListenerTaskEnd`` to its stage, each stage
to the job group of the first job that listed it, and sums the task
metrics per group.

JVM ``Executor CPU Time`` covers the executor's own threads only: a task
that hands its rows to a Python worker (pandas UDF, ``mapInPandas``)
reports the wall it spent waiting on Python as run time but almost none
of it as CPU time. Python-side cost therefore comes from the UDF
profiler, not from this log.
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path

MB = 1024 * 1024

FIELDS = (
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_write_mb",
    "spill_mb",
    "tasks",
    "task_p50_s",
    "task_max_s",
    "failed_tasks",
)


def find_log(log_dir: Path) -> Path:
    """The single application log in ``log_dir`` (rolling is off)."""
    logs = [p for p in log_dir.iterdir() if p.is_file()]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    return logs[0]


def group_task_metrics(path: Path) -> dict[str, dict[str, float]]:
    """{job group: {field: value}} for every group that ran a task."""
    stage_group: dict[int, str] = {}
    runs: dict[str, list[float]] = {}
    acc: dict[str, dict[str, float]] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                if group is None:
                    continue
                a = acc.setdefault(group, dict.fromkeys(FIELDS, 0.0))
                m = ev.get("Task Metrics") or {}
                run_s = m.get("Executor Run Time", 0) / 1e3
                runs.setdefault(group, []).append(run_s)
                a["executor_run_s"] += run_s
                a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                a["shuffle_write_mb"] += (
                    (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    / MB
                )
                a["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
                a["tasks"] += 1
                reason = (ev.get("Task End Reason") or {}).get("Reason")
                if reason != "Success":
                    a["failed_tasks"] += 1
    for group, a in acc.items():
        r = runs[group]
        a["task_p50_s"] = statistics.median(r)
        a["task_max_s"] = max(r)
    return acc
