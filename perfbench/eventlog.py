"""Per-operation metrics from an uncompressed Spark event log.

The benchmark tags every operation with ``setJobGroup(<op name>,
"<op name>:<phase>")``.  Jobs are attributed to an operation through
``spark.jobGroup.id`` in ``SparkListenerJobStart`` (the phase comes from
``spark.job.description``); stages and tasks follow their job.  Task
metrics and the Python-worker SQL accumulables of every
``SparkListenerTaskEnd`` are summed per operation.

Spark 4 writes the rolling layout ``eventlog_v2_<app>/events_<n>_<app>``;
``parse`` accepts that directory, a parent directory holding exactly one
application, or a single event-log file.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

#: SQL accumulables the Python runners publish per task (values in ms
#: for times, bytes for data)
PY_ACCUMS = {
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_start_init_ms",
    "time to initialize Python workers": "py_start_init_ms",
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
}

#: per-op sums kept by ``parse``; every key is present for every op
SUM_KEYS = (
    "jobs", "build_jobs", "stages", "tasks", "run_ms", "cpu_ns", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "fetch_wait_ms",
    "spill_bytes", "py_run_ms", "py_start_init_ms", "py_bytes_sent",
    "py_bytes_returned",
)


def event_files(path: str) -> list[str]:
    """The event files of one application, in write order."""
    if os.path.isfile(path):
        return [path]
    names = sorted(os.listdir(path))
    apps = [n for n in names if n.startswith("eventlog_v2_")]
    if apps:
        if len(apps) != 1:
            raise ValueError(f"{path}: {len(apps)} applications, expected 1")
        return event_files(os.path.join(path, apps[0]))
    parts = [n for n in names if n.startswith("events_")]
    if parts:
        # events_<index>_<app>: order by the numeric index
        parts.sort(key=lambda n: int(n.split("_")[1]))
        return [os.path.join(path, n) for n in parts]
    raise ValueError(f"{path}: no event log found")


def read_events(path: str):
    for f in event_files(path):
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _new_op() -> dict:
    op = {k: 0 for k in SUM_KEYS}
    op["peak_exec_mem_bytes"] = 0
    op["stage_task_ms"] = defaultdict(list)
    return op


def parse(path: str) -> dict[str, dict]:
    """Metrics per job group.  Jobs without a group land under ``""``.

    Each op carries the ``SUM_KEYS`` sums, ``peak_exec_mem_bytes`` (the
    largest single-task peak), ``longest_stage_task_ms`` (summed task
    time of the op's longest stage) and ``task_skew``: the maximum over
    the median task duration in that stage.
    """
    ops: dict[str, dict] = defaultdict(_new_op)
    stage_op: dict[int, str] = {}
    for e in read_events(path):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            name = props.get("spark.jobGroup.id") or ""
            op = ops[name]
            op["jobs"] += 1
            if props.get("spark.job.description", "").endswith(":build"):
                op["build_jobs"] += 1
            for sid in e["Stage IDs"]:
                stage_op.setdefault(sid, name)
        elif kind == "SparkListenerStageCompleted":
            name = stage_op.get(e["Stage Info"]["Stage ID"])
            if name is not None:
                ops[name]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            name = stage_op.get(e["Stage ID"])
            if name is None:
                continue
            op = ops[name]
            info = e["Task Info"]
            m = e.get("Task Metrics") or {}
            op["tasks"] += 1
            op["run_ms"] += m.get("Executor Run Time", 0)
            op["cpu_ns"] += m.get("Executor CPU Time", 0)
            op["gc_ms"] += m.get("JVM GC Time", 0)
            op["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            op["peak_exec_mem_bytes"] = max(
                op["peak_exec_mem_bytes"], m.get("Peak Execution Memory", 0)
            )
            rd = m.get("Shuffle Read Metrics") or {}
            op["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            op["fetch_wait_ms"] += rd.get("Fetch Wait Time", 0)
            wr = m.get("Shuffle Write Metrics") or {}
            op["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
            for acc in info.get("Accumulables", []):
                key = PY_ACCUMS.get(acc.get("Name"))
                if key is not None:
                    op[key] += int(acc.get("Update") or 0)
            op["stage_task_ms"][e["Stage ID"]].append(
                info["Finish Time"] - info["Launch Time"]
            )
    for op in ops.values():
        longest = max(op.pop("stage_task_ms").values(), key=sum, default=[])
        med = statistics.median(longest) if longest else 0
        op["task_skew"] = max(longest) / med if med > 0 else 1.0
        op["longest_stage_task_ms"] = sum(longest)
    return dict(ops)
