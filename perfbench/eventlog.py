"""Offline reader of Spark's JSON event log, grouped by job group.

The traced run starts Spark with ``spark.eventLog.enabled=true``,
``spark.eventLog.compress=false`` (the default zstd codec needs a Python
module that is not installed) and ``spark.eventLog.rolling.enabled=false``
(one file per application), and sets one job group per benchmark span.
``parse`` folds the log into one ``GroupStats`` per job group: jobs and their
intervals, stages, tasks and their durations, task metrics, the SQL metrics
that tasks report, and the driver-side SQL metrics (broadcast build, AQE
partition counts, files read) of the SQL executions the group ran.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

_SQL_EVENT = "org.apache.spark.sql.execution.ui."


@dataclass
class GroupStats:
    jobs: int = 0
    job_intervals: list = field(default_factory=list)  # (submit_s, end_s)
    stages: set = field(default_factory=set)
    tasks: int = 0
    task_durs: dict = field(default_factory=lambda: defaultdict(list))  # stage -> [s]
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_rows: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    fetch_wait_s: float = 0.0
    spill_bytes: int = 0
    peak_exec_mem_bytes: int = 0
    task_sql: dict = field(default_factory=lambda: defaultdict(float))  # metric name -> sum
    driver_sql: dict = field(default_factory=lambda: defaultdict(float))  # (node, name) -> sum

    def merge(self, other: "GroupStats") -> None:
        self.jobs += other.jobs
        self.job_intervals += other.job_intervals
        self.stages |= other.stages
        self.tasks += other.tasks
        for k, v in other.task_durs.items():
            self.task_durs[k] += v
        for name in (
            "run_s", "cpu_s", "gc_s", "input_rows",
            "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_s", "spill_bytes",
        ):
            setattr(self, name, getattr(self, name) + getattr(other, name))
        self.peak_exec_mem_bytes = max(self.peak_exec_mem_bytes, other.peak_exec_mem_bytes)
        for k, v in other.task_sql.items():
            self.task_sql[k] += v
        for k, v in other.driver_sql.items():
            self.driver_sql[k] += v


def _node_metrics(plan: dict, out: dict) -> None:
    node = plan.get("nodeName", "")
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = (node, m["name"])
    for child in plan.get("children", []):
        _node_metrics(child, out)


def parse(path: Path) -> dict[str, GroupStats]:
    """Job group id -> stats for one uncompressed log file; work outside any
    job group is under ``""``."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_submit: dict[int, float] = {}
    exec_group: dict[int, str] = {}
    metric_names: dict[int, tuple[str, str]] = {}
    # (execution, accumulator) -> value; a driver metric is posted with its
    # running total, so the last update is the value
    driver_values: dict[tuple[int, int], float] = {}
    with open(path) as fh:
        for line in fh:
            if line.startswith('{"Event":"SparkListenerTaskStart"'):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = props.get("spark.jobGroup.id") or ""
                jid = ev["Job ID"]
                job_group[jid] = g
                job_submit[jid] = ev["Submission Time"] / 1000.0
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = g
                if "spark.sql.execution.id" in props:
                    exec_group.setdefault(int(props["spark.sql.execution.id"]), g)
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                st = groups[job_group.get(jid, "")]
                st.jobs += 1
                st.job_intervals.append((job_submit.get(jid, 0.0), ev["Completion Time"] / 1000.0))
            elif kind == "SparkListenerTaskEnd":
                _task_end(ev, groups[stage_group.get(ev["Stage ID"], "")])
            elif kind == _SQL_EVENT + "SparkListenerSQLExecutionStart":
                if ev.get("jobGroupId"):
                    exec_group[ev["executionId"]] = ev["jobGroupId"]
                _node_metrics(ev["sparkPlanInfo"], metric_names)
            elif kind == _SQL_EVENT + "SparkListenerSQLAdaptiveExecutionUpdate":
                _node_metrics(ev["sparkPlanInfo"], metric_names)
            elif kind == _SQL_EVENT + "SparkListenerDriverAccumUpdates":
                for acc, value in ev["accumUpdates"]:
                    driver_values[(ev["executionId"], acc)] = value
    for (execution, acc), value in driver_values.items():
        if acc in metric_names:
            groups[exec_group.get(execution, "")].driver_sql[metric_names[acc]] += value
    return dict(groups)


def _task_end(ev: dict, st: GroupStats) -> None:
    info = ev["Task Info"]
    sid = ev["Stage ID"]
    st.tasks += 1
    st.stages.add(sid)
    st.task_durs[sid].append((info["Finish Time"] - info["Launch Time"]) / 1000.0)
    m = ev.get("Task Metrics") or {}
    st.run_s += m.get("Executor Run Time", 0) / 1e3
    st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    st.gc_s += m.get("JVM GC Time", 0) / 1e3
    inp = m.get("Input Metrics") or {}
    st.input_rows += inp.get("Records Read", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    st.shuffle_read_bytes += sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
    st.fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1e3
    st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    st.spill_bytes += m.get("Disk Bytes Spilled", 0)
    st.peak_exec_mem_bytes = max(st.peak_exec_mem_bytes, m.get("Peak Execution Memory", 0))
    for acc in info.get("Accumulables", []):
        name = acc.get("Name", "")
        if name.startswith("internal.") or "Update" not in acc:
            continue
        try:  # SQL metrics are logged as decimal strings
            st.task_sql[name] += float(acc["Update"])
        except (TypeError, ValueError):
            pass


def straggler_ratio(task_durs: dict, min_tasks: int = 4) -> float:
    """Max over stages with at least ``min_tasks`` tasks of the slowest task's
    duration over the median task's (durations floored at 1 ms)."""
    worst = 1.0
    for durs in task_durs.values():
        if len(durs) < min_tasks:
            continue
        ds = [max(d, 1e-3) for d in durs]
        worst = max(worst, max(ds) / statistics.median(ds))
    return worst
