"""Offline parser for a Spark event log (uncompressed JSON lines).

Spark 4.1 writes a rolling log: a directory ``eventlog_v2_<app>/``
holding ``events_<n>_<app>`` files. :func:`read_events` accepts that
directory, one plain log file, or a parent directory holding exactly
one application's log.

:func:`label_totals` folds stage and SQL metrics onto the job group
(``spark.jobGroup.id``) each job ran under, so a caller that labels
its calls with ``SparkContext.setJobGroup`` gets per-call totals.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field

UNLABELLED = ""

_PY_START = "time to start Python workers"
_PY_RUN = "time to run Python workers"


@dataclass
class Totals:
    """Stage metrics summed over every job of one label."""

    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0
    python_start_s: float = 0.0
    python_run_s: float = 0.0
    python_tasks: int = 0
    broadcast_bytes: int = 0
    # max/median task time of the label's stage with the most Python
    # run time (1.0 when the label ran no Python stage)
    task_skew: float = 1.0
    _py_stage_run: float = field(default=-1.0, repr=False)

    def add(self, other: Totals) -> None:
        for name in (
            "stages", "tasks", "executor_run_s", "executor_cpu_s",
            "shuffle_write_bytes", "spill_bytes", "gc_s", "python_start_s",
            "python_run_s", "python_tasks", "broadcast_bytes",
        ):
            setattr(self, name, getattr(self, name) + getattr(other, name))
        if other._py_stage_run > self._py_stage_run:
            self._py_stage_run = other._py_stage_run
            self.task_skew = other.task_skew


def _log_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    names = os.listdir(path)
    events = [n for n in names if n.startswith("events_")]
    if events:
        def index(n: str) -> int:
            return int(n.split("_")[1])
        return [os.path.join(path, n) for n in sorted(events, key=index)]
    apps = [n for n in names if not n.startswith(".")]
    if len(apps) != 1:
        raise ValueError(f"{path}: expected one application log, found {apps}")
    return _log_files(os.path.join(path, apps[0]))


def read_events(path: str) -> Iterator[dict]:
    """Yield the JSON events of one application's log, in order."""
    for f in _log_files(path):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _broadcast_size_ids(plan: dict, out: set[int]) -> None:
    if plan.get("nodeName", "").startswith("BroadcastExchange"):
        for m in plan.get("metrics", ()):
            if m.get("name") == "data size":
                out.add(int(m["accumulatorId"]))
    for child in plan.get("children", ()):
        _broadcast_size_ids(child, out)


def _accum(stage_info: dict) -> dict[str, float]:
    acc: dict[str, float] = {}
    for a in stage_info.get("Accumulables", ()):
        v = a.get("Value")
        if isinstance(v, (int, float)) or (isinstance(v, str) and re.fullmatch(r"-?\d+", v)):
            acc[a["Name"]] = acc.get(a["Name"], 0.0) + float(v)
    return acc


def label_totals(events: Iterable[dict]) -> dict[str, Totals]:
    """Per job-group totals. Jobs started without a group land under
    :data:`UNLABELLED`."""
    stage_label: dict[int, str] = {}
    exec_label: dict[int, str] = {}
    task_times: dict[int, list[int]] = {}
    bcast_ids: set[int] = set()
    driver_updates: list[tuple[int, int, int]] = []
    out: dict[str, Totals] = {}
    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            label = props.get("spark.jobGroup.id") or UNLABELLED
            for sid in e.get("Stage IDs", ()):
                stage_label[sid] = label
            if "spark.sql.execution.id" in props:
                exec_label.setdefault(int(props["spark.sql.execution.id"]), label)
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            if not info.get("Failed") and not info.get("Killed"):
                task_times.setdefault(e["Stage ID"], []).append(
                    info["Finish Time"] - info["Launch Time"]
                )
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            sid = si["Stage ID"]
            acc = _accum(si)
            t = Totals(
                stages=1,
                tasks=si["Number of Tasks"],
                executor_run_s=acc.get("internal.metrics.executorRunTime", 0.0) / 1e3,
                executor_cpu_s=acc.get("internal.metrics.executorCpuTime", 0.0) / 1e9,
                shuffle_write_bytes=int(acc.get("internal.metrics.shuffle.write.bytesWritten", 0)),
                spill_bytes=int(
                    acc.get("internal.metrics.memoryBytesSpilled", 0)
                    + acc.get("internal.metrics.diskBytesSpilled", 0)
                ),
                gc_s=acc.get("internal.metrics.jvmGCTime", 0.0) / 1e3,
                python_start_s=acc.get(_PY_START, 0.0) / 1e3,
                python_run_s=acc.get(_PY_RUN, 0.0) / 1e3,
            )
            if _PY_RUN in acc:
                t.python_tasks = si["Number of Tasks"]
                times = task_times.get(sid) or [0]
                med = statistics.median(times)
                t.task_skew = max(times) / med if med > 0 else 1.0
                t._py_stage_run = t.python_run_s
            out.setdefault(stage_label.get(sid, UNLABELLED), Totals()).add(t)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _broadcast_size_ids(e.get("sparkPlanInfo") or {}, bcast_ids)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            ex = int(e["executionId"])
            driver_updates.extend(
                (ex, int(acc_id), int(value)) for acc_id, value in e.get("accumUpdates", ())
            )
    # resolved last: an adaptive re-plan can name an accumulator after
    # its first driver update
    for ex, acc_id, value in driver_updates:
        if acc_id in bcast_ids:
            label = exec_label.get(ex, UNLABELLED)
            out.setdefault(label, Totals()).broadcast_bytes += value
    return out
