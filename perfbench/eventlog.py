"""Spark event-log parser: per-job-group engine counters.

Reads an uncompressed, non-rolling event log (one JSON object per
line, as written with ``spark.eventLog.compress=false`` and
``spark.eventLog.rolling.enabled=false``) with the stdlib ``json``
module only.  Jobs are keyed by the ``spark.jobGroup.id`` property of
their JobStart event; stages and tasks inherit the group of the job
that submitted them.  Driver-side SQL metrics (``number of files
read``) are keyed by the ``jobGroupId`` of their SQL execution.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

COUNTERS = ("jobs", "stages", "tasks", "executor_run_s", "gc_s",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
            "task_skew")

#: task accumulables of the Arrow/pandas UDF operators, summed per
#: group; "time to run Python workers" is in milliseconds
PYTHON_ACCUMS = {
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "to_python_bytes",
    "data returned from Python workers": "from_python_bytes",
}

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = ("org.apache.spark.sql.execution.ui."
            "SparkListenerSQLAdaptiveExecutionUpdate")
_SQL_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"


class GroupStats:
    """Engine counters of one job group."""

    def __init__(self):
        self.jobs = 0
        self.stages = set()
        self.task_ms: list[int] = []
        self.executor_run_ms = 0
        self.gc_ms = 0
        self.shuffle_read_bytes = 0
        self.shuffle_write_bytes = 0
        self.spill_bytes = 0
        self.python = defaultdict(int)
        self.files_read = 0
        self.scans = 0

    def merge(self, other: "GroupStats") -> None:
        self.jobs += other.jobs
        self.stages |= other.stages
        self.task_ms += other.task_ms
        self.executor_run_ms += other.executor_run_ms
        self.gc_ms += other.gc_ms
        self.shuffle_read_bytes += other.shuffle_read_bytes
        self.shuffle_write_bytes += other.shuffle_write_bytes
        self.spill_bytes += other.spill_bytes
        for k, v in other.python.items():
            self.python[k] += v
        self.files_read += other.files_read
        self.scans += other.scans

    def counters(self) -> dict:
        """The :data:`COUNTERS` of this group; ``task_skew`` is the
        slowest task's duration over the median task's (1.0 when the
        group ran no task)."""
        med = statistics.median(self.task_ms) if self.task_ms else 0
        skew = max(self.task_ms) / med if med else 1.0
        return {
            "jobs": self.jobs,
            "stages": len(self.stages),
            "tasks": len(self.task_ms),
            "executor_run_s": self.executor_run_ms / 1000.0,
            "gc_s": self.gc_ms / 1000.0,
            "shuffle_read_bytes": self.shuffle_read_bytes,
            "shuffle_write_bytes": self.shuffle_write_bytes,
            "spill_bytes": self.spill_bytes,
            "task_skew": skew,
        }


def _scan_file_metrics(plan: dict, out: list) -> None:
    """Accumulator ids of every parquet scan's "number of files read"
    metric in a ``sparkPlanInfo`` tree."""
    if plan.get("nodeName", "").startswith("Scan parquet"):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of files read":
                out.append(m["accumulatorId"])
    for child in plan.get("children", []):
        _scan_file_metrics(child, out)


def parse(lines) -> dict[str, GroupStats]:
    """Event-log lines → ``{job group id: GroupStats}``.  Jobs without
    a group are keyed by ``""``."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    exec_group: dict[int, str] = {}
    exec_scans: dict[int, set] = defaultdict(set)
    accum_values: dict[int, int] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(
                "spark.jobGroup.id") or ""
            groups[group].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = stage_group.get(info["Stage ID"], "")
            groups[group].stages.add(info["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"], "")
            g = groups[group]
            info = ev.get("Task Info", {})
            g.task_ms.append(info.get("Finish Time", 0)
                             - info.get("Launch Time", 0))
            tm = ev.get("Task Metrics") or {}
            g.executor_run_ms += tm.get("Executor Run Time", 0)
            g.gc_ms += tm.get("JVM GC Time", 0)
            sr = tm.get("Shuffle Read Metrics", {})
            g.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0))
            g.shuffle_write_bytes += tm.get(
                "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            g.spill_bytes += (tm.get("Memory Bytes Spilled", 0)
                              + tm.get("Disk Bytes Spilled", 0))
            for acc in info.get("Accumulables", []):
                key = PYTHON_ACCUMS.get(acc.get("Name"))
                if key is not None:
                    g.python[key] += int(acc.get("Update", 0))
        elif kind in (_SQL_START, _SQL_AQE):
            eid = ev["executionId"]
            if kind == _SQL_START:
                exec_group[eid] = ev.get("jobGroupId") or ""
            ids: list = []
            _scan_file_metrics(ev.get("sparkPlanInfo", {}), ids)
            exec_scans[eid].update(ids)
        elif kind == _SQL_ACCUM:
            for acc_id, value in ev.get("accumUpdates", []):
                accum_values[acc_id] = value
    for eid, ids in exec_scans.items():
        g = groups[exec_group.get(eid, "")]
        for acc_id in ids:
            if acc_id in accum_values:
                g.scans += 1
                g.files_read += accum_values[acc_id]
    return dict(groups)


def parse_file(path: str) -> dict[str, GroupStats]:
    with open(path, encoding="utf-8") as fp:
        return parse(fp)


def total(groups: dict[str, GroupStats], ids) -> GroupStats:
    """Counters summed over the job groups ``ids``."""
    out = GroupStats()
    for gid in ids:
        if gid in groups:
            out.merge(groups[gid])
    return out
