"""Spark event-log parser for the traced run.

Sums ``SparkListenerTaskEnd`` task metrics and the Python-exec SQL metrics
(the ``data sent to`` / ``data returned from Python workers`` accumulators
every Arrow/pandas exec node reports) into the benchmark's ``spark.*`` and
``python.*`` metrics, in total and per job group. Jobs are mapped to their
group through the ``spark.jobGroup.id`` property of ``SparkListenerJobStart``;
stages to jobs through the job's stage list.

Reads one uncompressed log file (the traced run sets
``spark.eventLog.compress=false``), given by its path or by the event-log
directory that holds it.
"""

from __future__ import annotations

import json
import os

MB = 2**20
UNGROUPED = "(none)"

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def _empty() -> dict:
    return {
        "spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0,
        "spark.task_run_s": 0.0, "spark.task_cpu_s": 0.0, "spark.gc_s": 0.0,
        "spark.shuffle_write_mb": 0.0, "spark.shuffle_read_mb": 0.0,
        "spark.spill_mb": 0.0,
        "python.arrow_to_worker_mb": 0.0, "python.arrow_from_worker_mb": 0.0,
    }


def _log_file(path: str) -> str:
    """The log file itself, or the one log file in an event-log directory
    (hidden ``.crc`` checksum files aside)."""
    if os.path.isfile(path):
        return path
    (name,) = [n for n in os.listdir(path) if not n.startswith(".")]
    return os.path.join(path, name)


def events(path: str):
    with open(_log_file(path)) as fh:
        for line in fh:
            if line.strip():
                yield json.loads(line)


def parse(path: str) -> dict:
    """``{"total": {...}, "groups": {group: {...}}}`` over the log at ``path``."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def acc(group: str) -> dict:
        return groups.setdefault(group, _empty())

    for e in events(path):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id") or UNGROUPED
            acc(group)["spark.jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            acc(stage_group.get(sid, UNGROUPED))["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = acc(stage_group.get(e["Stage ID"], UNGROUPED))
            g["spark.tasks"] += 1
            m = e.get("Task Metrics") or {}
            g["spark.task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            g["spark.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            g["spark.spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
            w = m.get("Shuffle Write Metrics") or {}
            g["spark.shuffle_write_mb"] += w.get("Shuffle Bytes Written", 0) / MB
            r = m.get("Shuffle Read Metrics") or {}
            g["spark.shuffle_read_mb"] += (
                r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
            ) / MB
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                if a.get("Name") == _PY_SENT:
                    g["python.arrow_to_worker_mb"] += int(a.get("Update", 0)) / MB
                elif a.get("Name") == _PY_RECV:
                    g["python.arrow_from_worker_mb"] += int(a.get("Update", 0)) / MB
    total = _empty()
    for g in groups.values():
        for k, v in g.items():
            total[k] += v
    return {"total": total, "groups": groups}
