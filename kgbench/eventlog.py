"""Offline parser for Spark's JSON event log.

The benchmark runs its traced passes with ``spark.eventLog.enabled`` on
a local directory (uncompressed, not rolling), sets a job group before
each layer's call, and reads the log back after the session stops. No
UI or REST server is involved: the session keeps the UI off.

``parse`` returns per-stage task totals and, per SQL execution, its job
group and the Python-boundary and join operators of its executed (final
adaptive) plan.
"""

from __future__ import annotations

import json
import statistics
from collections import Counter
from dataclasses import dataclass, field

KERNELS = ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BroadcastHashJoin", "SortMergeJoin")
PY_RUN = "time to run Python workers"  # SQL timing metric, ms
PY_SENT = "data sent to Python workers"  # SQL size metric, bytes
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


@dataclass
class Stage:
    stage_id: int
    group: str | None
    name: str
    submit_ms: int = 0
    complete_ms: int = 0
    run_ms: list[int] = field(default_factory=list)  # per successful task
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    failed: int = 0
    py_run_ms: int = 0
    py_sent: int = 0

    @property
    def wall_s(self) -> float:
        return max(0, self.complete_ms - self.submit_ms) / 1000.0

    @property
    def skew(self) -> float:
        """Max over median task run time (1.0 for a single task)."""
        if not self.run_ms:
            return 0.0
        med = statistics.median(self.run_ms)
        return max(self.run_ms) / med if med > 0 else 1.0


@dataclass
class Execution:
    """One SQL execution: its job group, start, and the kernel operators
    of its final plan."""

    group: str
    start_ms: int
    kernels: Counter


@dataclass
class Log:
    stages: list[Stage]
    executions: list[Execution]

    @property
    def census(self) -> dict[str, Counter]:
        """Job group -> kernel operator counts over its executions."""
        out: dict[str, Counter] = {}
        for ex in self.executions:
            out.setdefault(ex.group, Counter()).update(ex.kernels)
        return out


def _walk(plan: dict):
    yield plan["nodeName"]
    for child in plan.get("children", []):
        yield from _walk(child)


def parse(path: str) -> Log:
    stages: dict[tuple[int, int], Stage] = {}
    exec_group: dict[int, str] = {}
    plans: dict[int, dict] = {}
    starts: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                props = ev.get("Properties") or {}
                stages[key] = Stage(info["Stage ID"], props.get("spark.jobGroup.id"), info["Stage Name"])
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.get((info["Stage ID"], info["Stage Attempt ID"]))
                if st is not None:
                    st.submit_ms = info.get("Submission Time", 0)
                    st.complete_ms = info.get("Completion Time", st.submit_ms)
            elif kind == "SparkListenerTaskEnd":
                st = stages.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                if st is not None:
                    _add_task(st, ev)
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                eid = props.get("spark.sql.execution.id")
                if eid is not None and props.get("spark.jobGroup.id"):
                    exec_group.setdefault(int(eid), props["spark.jobGroup.id"])
            elif kind in (_SQL_START, _SQL_UPDATE):
                plans[ev["executionId"]] = ev["sparkPlanInfo"]
                starts.setdefault(ev["executionId"], ev.get("time", 0))
    executions = [
        Execution(group, starts[eid], Counter(n for n in _walk(plans[eid]) if n in KERNELS))
        for eid, group in sorted(exec_group.items())
        if eid in plans
    ]
    return Log(list(stages.values()), executions)


def _add_task(st: Stage, ev: dict) -> None:
    info = ev["Task Info"]
    if info.get("Failed") or ev["Task End Reason"]["Reason"] != "Success":
        st.failed += 1
    m = ev.get("Task Metrics") or {}
    if not info.get("Failed"):
        st.run_ms.append(m.get("Executor Run Time", 0))
    st.cpu_ns += m.get("Executor CPU Time", 0)
    st.gc_ms += m.get("JVM GC Time", 0)
    rd = m.get("Shuffle Read Metrics") or {}
    st.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
    st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    st.spill += m.get("Disk Bytes Spilled", 0)
    for acc in info.get("Accumulables", []):
        if acc.get("Name") == PY_RUN:
            st.py_run_ms += int(acc.get("Update", 0))
        elif acc.get("Name") == PY_SENT:
            st.py_sent += int(acc.get("Update", 0))


def totals(stages: list[Stage]) -> dict[str, float]:
    """The per-layer Spark stats over a set of stages (wall_s excluded:
    the benchmark times each layer's call from outside)."""
    return {
        "exec_run_s": sum(sum(s.run_ms) for s in stages) / 1000.0,
        "exec_cpu_s": sum(s.cpu_ns for s in stages) / 1e9,
        "gc_s": sum(s.gc_ms for s in stages) / 1000.0,
        "shuffle_read_bytes": sum(s.shuffle_read for s in stages),
        "shuffle_write_bytes": sum(s.shuffle_write for s in stages),
        "spill_bytes": sum(s.spill for s in stages),
        "py_run_s": sum(s.py_run_ms for s in stages) / 1000.0,
        "tasks": sum(len(s.run_ms) + s.failed for s in stages),
        "failed_tasks": sum(s.failed for s in stages),
    }
