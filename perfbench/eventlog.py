"""Fold a Spark event log into per-job-group layer counters.

The benchmark puts every public call it times under its own
``spark.jobGroup.id`` (the span name), so folding ``SparkListenerJobStart``
and ``SparkListenerTaskEnd`` events by that property gives each span its
own Spark work.  The log must be uncompressed: Spark 4 compresses with
zstd by default and Python here has no zstd module.
"""

from __future__ import annotations

import json
from collections import defaultdict

COUNTERS = (
    "jobs",
    "tasks",
    "executor_run_ms",
    "shuffle_write_bytes",
    "spill_bytes",
    "python_run_ms",
    "python_bytes_sent",
    "failed_tasks",
)
# SQL metrics the Arrow/pandas UDF operators report per task.
_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
NO_GROUP = "(none)"


def _empty() -> dict:
    d = {c: 0 for c in COUNTERS}
    d["job_shuffle_write_bytes"] = []
    return d


def fold(lines) -> dict[str, dict]:
    """``lines``: the log's JSON lines.  Returns group -> counters, plus
    ``job_shuffle_write_bytes``: shuffle bytes per job in submission
    order (a superstep span's per-round volume).  Tasks of jobs started
    outside any group land under ``"(none)"``."""
    groups: dict[str, dict] = defaultdict(_empty)
    stage_owner: dict[int, tuple[str, int]] = {}
    job_bytes: dict[int, int] = defaultdict(int)
    job_group: dict[int, str] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or NO_GROUP
            job = ev["Job ID"]
            job_group[job] = group
            groups[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                # a stage shared by a later job runs (at most) once,
                # under the job that first submitted it
                stage_owner.setdefault(sid, (group, job))
        elif kind == "SparkListenerTaskEnd":
            group, job = stage_owner.get(ev.get("Stage ID"), (NO_GROUP, -1))
            g = groups[group]
            g["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                g["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            g["executor_run_ms"] += m.get("Executor Run Time", 0)
            sw = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            g["shuffle_write_bytes"] += sw
            job_bytes[job] += sw
            g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = acc.get("Name")
                if name == _PY_RUN:
                    g["python_run_ms"] += int(acc.get("Update") or 0)
                elif name == _PY_SENT:
                    g["python_bytes_sent"] += int(acc.get("Update") or 0)
    for job in sorted(job_group):
        groups[job_group[job]]["job_shuffle_write_bytes"].append(job_bytes[job])
    return dict(groups)


def fold_file(path: str) -> dict[str, dict]:
    with open(path) as fh:
        return fold(fh)
