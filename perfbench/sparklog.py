"""Fold Spark's event log into per-operation totals.

The benchmark tags every call it makes with a job group
(``setJobGroup``). Jobs that a streaming query runs on its own thread
carry the query's run id as their group and ``batch = <n>`` in their
description; those are keyed ``stream:<run id>:<batch>`` so the
caller can map them to the trigger they belong to.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict

_BATCH = re.compile(r"batch = (\d+)")

FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "jvm_gc_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "output_mb",
)


def _key(props: dict) -> str | None:
    group = props.get("spark.jobGroup.id")
    desc = props.get("spark.job.description") or ""
    m = _BATCH.search(desc)
    if m and group and not group.startswith("perfbench"):
        return f"stream:{group}:{m.group(1)}"
    return group


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """``{group key: {field: total}}`` over every finished job."""
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True) if os.path.isfile(p)
    )
    if not files:
        raise RuntimeError(f"no event log in {log_dir}")
    stage_key: dict[int, str | None] = {}
    totals: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))
    for ev in _events(files):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            key = _key(ev.get("Properties") or {})
            for sid in ev.get("Stage IDs", []):
                stage_key[sid] = key
            if key is not None:
                totals[key]["jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            key = stage_key.get(ev["Stage Info"]["Stage ID"])
            if key is not None:
                totals[key]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            key = stage_key.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if key is None or not m:
                continue
            t = totals[key]
            t["tasks"] += 1
            t["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            t["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            t["shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / 2**20
            sw = m.get("Shuffle Write Metrics") or {}
            t["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
            t["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 2**20
            out = m.get("Output Metrics") or {}
            t["output_mb"] += out.get("Bytes Written", 0) / 2**20
    return dict(totals)


def _events(files):
    for path in files:
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


def add(into: dict[str, float], part: dict[str, float]) -> None:
    for f in FIELDS:
        into[f] = into.get(f, 0.0) + part.get(f, 0.0)
