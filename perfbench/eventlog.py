"""Stdlib reader for Spark's JSON-lines event log.

The traced run starts Spark with ``spark.eventLog.enabled=true`` and
``spark.eventLog.compress=false`` (reading the default zstd codec
would need the ``zstandard`` module). After the session stops, this module
reads the finished log, sums task metrics per stage, maps stages to
the jobs that ran them, and folds jobs into the benchmark's operations
by submission time: every job submitted inside an operation's wall
window belongs to it. That attribution also covers jobs launched from
the streaming sink's callback thread, which do not carry the job group
the benchmark set.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

#: Stages with at most this many tasks that still hold a large share of
#: their operation's task time run effectively serial.
SERIAL_MAX_TASKS = 2
SERIAL_MIN_SHARE = 0.25

_FIELDS = (
    "tasks", "run_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "fetch_wait_s",
)


def _task_row(tm: dict) -> dict:
    sr = tm.get("Shuffle Read Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    return {
        "tasks": 1,
        "run_s": tm.get("Executor Run Time", 0) / 1000.0,
        "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
        "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1000.0,
    }


def read_log(log_dir: str) -> tuple[dict, dict]:
    """Return ``(jobs, stages)``: job id -> {submit_ms, stages};
    stage id -> summed task metrics. Only finished logs are read."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(lambda: dict.fromkeys(_FIELDS, 0))
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if line.startswith('{"Event":"SparkListenerTaskEnd"'):
                    ev = json.loads(line)
                    tm = ev.get("Task Metrics")
                    if not tm:
                        continue
                    acc = stages[ev["Stage ID"]]
                    for k, v in _task_row(tm).items():
                        acc[k] += v
                elif line.startswith('{"Event":"SparkListenerJobStart"'):
                    ev = json.loads(line)
                    jobs[ev["Job ID"]] = {
                        "submit_ms": ev.get("Submission Time", 0),
                        "stages": ev.get("Stage IDs", []),
                    }
    return jobs, dict(stages)


def fold_ops(ops: list[dict], jobs: dict, stages: dict) -> None:
    """Attach ``ops[i]["stages"]`` (list of per-stage metric dicts) to
    each operation record carrying ``start_ms``/``end_ms``."""
    windows = sorted(
        ((op["start_ms"], op["end_ms"], i) for i, op in enumerate(ops)),
    )
    for op in ops:
        op["stages"] = []
    seen: set[int] = set()
    for job in sorted(jobs.values(), key=lambda j: j["submit_ms"]):
        owner = next(
            (i for lo, hi, i in windows if lo <= job["submit_ms"] <= hi), None
        )
        for sid in job["stages"]:
            # a stage listed by several jobs ran in the first of them;
            # later jobs list it as skipped
            if sid in seen or sid not in stages:
                continue
            seen.add(sid)
            if owner is not None:
                ops[owner]["stages"].append(stages[sid])


def serial_stages(op: dict) -> int:
    total = sum(s["run_s"] for s in op["stages"])
    if total <= 0:
        return 0
    return sum(
        1
        for s in op["stages"]
        if s["tasks"] <= SERIAL_MAX_TASKS and s["run_s"] >= SERIAL_MIN_SHARE * total
    )
