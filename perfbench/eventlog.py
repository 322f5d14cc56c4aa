"""Reader for an uncompressed, non-rolling Spark event log.

Aggregates the task-level metrics of every job by the job group the
benchmark set around each call (``SparkContext.setJobGroup``).
"""

from __future__ import annotations

import json
from collections import defaultdict

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"

FIELDS = (
    "jobs", "stages", "tasks", "task_s", "task_cpu_s", "gc_s",
    "scheduler_delay_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "python_bytes_sent", "python_bytes_received",
)


def _accum(info: dict, name: str) -> int:
    total = 0
    for acc in info.get("Accumulables") or ():
        if acc.get("Name") == name:
            try:
                total += int(acc.get("Update", 0))
            except (TypeError, ValueError):
                pass
    return total


def parse(path: str) -> dict[str, dict[str, float]]:
    """{job group: {field: total}} over every finished task in the log.
    Jobs without a group are summed under the empty string."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    seen_stages: set[tuple[str, int]] = set()
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                out[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                group = stage_group.get(sid, "")
                agg = out[group]
                if (group, sid) not in seen_stages:
                    seen_stages.add((group, sid))
                    agg["stages"] += 1
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                agg["tasks"] += 1
                run_ms = m.get("Executor Run Time", 0)
                agg["task_s"] += run_ms / 1e3
                agg["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                overhead = (
                    run_ms
                    + m.get("Executor Deserialize Time", 0)
                    + m.get("Result Serialization Time", 0)
                    + (info.get("Finish Time", 0) - info["Getting Result Time"]
                       if info.get("Getting Result Time") else 0)
                )
                agg["scheduler_delay_s"] += max(0, dur - overhead) / 1e3
                rd = m.get("Shuffle Read Metrics") or {}
                agg["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                    "Local Bytes Read", 0
                )
                wr = m.get("Shuffle Write Metrics") or {}
                agg["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                agg["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                agg["python_bytes_sent"] += _accum(info, PY_SENT)
                agg["python_bytes_received"] += _accum(info, PY_RECV)
    return dict(out)
