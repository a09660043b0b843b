"""Executor totals from a Spark event log (uncompressed JSON lines)."""

from __future__ import annotations

import json
import os


def latest_log(log_dir: str) -> list[str]:
    """Files of the newest application log in ``log_dir``; a rolling log
    (Spark 4's default) is a directory of numbered parts."""
    if not os.path.isdir(log_dir):
        return []
    paths = [os.path.join(log_dir, n) for n in os.listdir(log_dir)]
    if not paths:
        return []
    newest = max(paths, key=os.path.getmtime)
    if not os.path.isdir(newest):
        return [newest]
    parts = [os.path.join(newest, n) for n in os.listdir(newest) if n.startswith("events_")]
    return sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))


def summarize(log_dir: str, t0: float, t1: float) -> dict[str, float]:
    """Sum the task metrics of tasks launched between wall times ``t0`` and
    ``t1`` (seconds) in the newest log of ``log_dir``."""
    out = {"spark.executor_run_ms": 0.0, "spark.executor_cpu_ms": 0.0, "spark.gc_ms": 0.0,
           "spark.shuffle_write_bytes": 0.0}
    lo, hi = t0 * 1000, t1 * 1000
    for path in latest_log(log_dir):
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                launched = ev.get("Task Info", {}).get("Launch Time", 0)
                m = ev.get("Task Metrics")
                if not m or not lo <= launched <= hi:
                    continue
                out["spark.executor_run_ms"] += m.get("Executor Run Time", 0)
                out["spark.executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                out["spark.gc_ms"] += m.get("JVM GC Time", 0)
                out["spark.shuffle_write_bytes"] += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0))
    return out
