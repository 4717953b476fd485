"""Per-job-group totals from a Spark event log.

The traced run tags every layer call with a Spark job group
(``SparkContext.setJobGroup``) and enables Spark's own JSON event log.
This module reads that log back: each task is attributed to its stage,
each stage to the job group it was submitted under, and the task metrics
are summed per group.

Only three event types are read:

- ``SparkListenerStageSubmitted``: stage id -> ``spark.jobGroup.id``
- ``SparkListenerTaskEnd``: per-task metrics and SQL accumulator updates
- ``SparkListenerJobStart``: counts the jobs of each group
"""

from __future__ import annotations

import json
from dataclasses import dataclass

MB = 1024 * 1024


@dataclass
class GroupTotals:
    """Summed task metrics of one job group. Times are in seconds."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    python_s: float = 0.0  # "time to run Python workers"; overlaps executor_run_s
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0  # memory + disk bytes spilled


def parse(path: str) -> dict[str, GroupTotals]:
    """Group name -> totals for every job group in the event log at
    ``path``. Stages and jobs submitted outside any job group are left
    out."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupTotals] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is not None:
                    groups.setdefault(group, GroupTotals()).jobs += 1
            elif kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is not None:
                    stage_group[ev["Stage Info"]["Stage ID"]] = group
                    groups.setdefault(group, GroupTotals()).stages += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is not None:
                    _add_task(groups[group], ev)
    return groups


def _add_task(g: GroupTotals, ev: dict) -> None:
    g.tasks += 1
    m = ev.get("Task Metrics") or {}
    g.executor_run_s += m.get("Executor Run Time", 0) * 1e-3
    g.spill_mb += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB
    g.shuffle_write_mb += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    ) / MB
    for acc in ev["Task Info"].get("Accumulables", []):
        # a SQL timing metric, updated in milliseconds
        if acc.get("Name") == "time to run Python workers" and acc.get("Update"):
            g.python_s += float(acc["Update"]) * 1e-3
