"""Fold a Spark event log into per-job-group totals.

The benchmark tags every call into a layer with ``sc.setJobGroup(<layer>)``;
each ``SparkListenerJobStart`` carries that tag in its properties, and each
``SparkListenerTaskEnd`` carries its stage id, its task metrics and the SQL
metric updates (where the Python-worker time and Arrow bytes live). A stage
belongs to the group of the first job that lists it.

Spark 4 writes a rolling log: a directory ``eventlog_v2_<app>/`` holding
``events_<n>_<app>`` parts, read here in part order. A plain single-file log
is read as is.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


@dataclass
class GroupTotals:
    jobs: int = 0
    tasks: int = 0
    task_cpu_ms: float = 0.0
    python_ms: float = 0.0
    arrow_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    job_intervals: list[tuple[int, int]] = field(default_factory=list)


def event_files(log_dir: str) -> list[str]:
    parts = []
    for root, _, files in os.walk(log_dir):
        for f in files:
            m = re.match(r"events_(\d+)_", f)
            if m:
                parts.append((os.path.basename(root), int(m.group(1)), os.path.join(root, f)))
            elif f.startswith(("local-", "app-")) and not f.endswith(".inprogress"):
                parts.append((f, 0, os.path.join(root, f)))
    return [p for _, _, p in sorted(parts)]


def _num(v) -> float:
    return float(v) if v not in (None, "") else 0.0


def fold(log_dir: str) -> dict[str, GroupTotals]:
    groups: dict[str, GroupTotals] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or "untagged"
                    jid = e["Job ID"]
                    job_group[jid] = g
                    job_start[jid] = e.get("Submission Time", 0)
                    groups.setdefault(g, GroupTotals()).jobs += 1
                    for sid in e.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerJobEnd":
                    jid = e["Job ID"]
                    if jid in job_group:
                        groups[job_group[jid]].job_intervals.append(
                            (job_start[jid], e.get("Completion Time", job_start[jid]))
                        )
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(e.get("Stage ID"), "untagged")
                    t = groups.setdefault(g, GroupTotals())
                    t.tasks += 1
                    m = e.get("Task Metrics") or {}
                    t.task_cpu_ms += _num(m.get("Executor CPU Time")) / 1e6
                    t.spill_bytes += int(_num(m.get("Disk Bytes Spilled")))
                    sw = m.get("Shuffle Write Metrics") or {}
                    t.shuffle_write_bytes += int(_num(sw.get("Shuffle Bytes Written")))
                    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                        name = acc.get("Name")
                        if name == PY_RUN:
                            t.python_ms += _num(acc.get("Update"))
                        elif name in (PY_SENT, PY_RETURNED):
                            t.arrow_bytes += int(_num(acc.get("Update")))
    return groups


def uncovered_ms(start_ms: float, end_ms: float, intervals: list[tuple[int, int]]) -> float:
    """Part of [start, end] not covered by any interval: the time a call
    spent on the driver with no Spark job running."""
    covered, cursor = 0.0, start_ms
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, end_ms)
        if b > a:
            covered += b - a
            cursor = b
    return max(end_ms - start_ms - covered, 0.0)
