"""Reduce a Spark event log to the ``spark.*`` per-layer metrics.

Spark 4.1 writes rolling ``eventlog_v2_<app>/events_<n>_<app>`` files;
the benchmark turns compression off so each line is one JSON event.
Only work inside the timed window counts: jobs by submission time,
tasks by launch time (epoch seconds in, epoch milliseconds in the log).
"""

from __future__ import annotations

import json
import os
import statistics

# SQL metrics the Python UDF operators (mapInPandas, applyInPandas,
# Arrow UDFs) attach to each task: the JVM <-> Python boundary
PY_RUN = "time to run Python workers"          # ms
PY_SENT = "data sent to Python workers"         # bytes
PY_RETURNED = "data returned from Python workers"  # bytes


def log_files(event_dir: str) -> list[str]:
    out = []
    for cur, _dirs, names in os.walk(event_dir):
        out += [os.path.join(cur, n) for n in sorted(names)
                if not n.startswith("appstatus") and not n.startswith(".")]
    return sorted(out)


def events(event_dir: str):
    for path in log_files(event_dir):
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def reduce(event_dir: str, start: float, end: float, n_ops: int) -> dict:
    """``spark.*`` metrics over jobs and tasks that started in
    [start, end]; ``n_ops`` timed operations (waves or queries) ran in
    that window."""
    lo, hi = start * 1000.0, end * 1000.0
    jobs = 0
    run_ms = cpu_ns = gc_ms = shuffle_w = spill = 0
    py_ms = py_sent = py_ret = 0
    stage_tasks: dict[tuple, list[int]] = {}
    for e in events(event_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jobs += lo <= e["Submission Time"] <= hi
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            if not lo <= info["Launch Time"] <= hi:
                continue
            m = e.get("Task Metrics") or {}
            run_ms += m.get("Executor Run Time", 0)
            cpu_ns += m.get("Executor CPU Time", 0)
            gc_ms += m.get("JVM GC Time", 0)
            shuffle_w += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            spill += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0)
            key = (e["Stage ID"], e["Stage Attempt ID"])
            stage_tasks.setdefault(key, []).append(
                info["Finish Time"] - info["Launch Time"])
            for a in info.get("Accumulables", []):
                name, upd = a.get("Name"), a.get("Update")
                if name == PY_RUN:
                    py_ms += int(upd)
                elif name == PY_SENT:
                    py_sent += int(upd)
                elif name == PY_RETURNED:
                    py_ret += int(upd)
    skews = [max(t) / max(1, statistics.median(t))
             for t in stage_tasks.values() if len(t) >= 2]
    return {
        "spark.jobs_per_op": jobs / n_ops if n_ops else 0.0,
        "spark.executor_run_s": run_ms / 1e3,
        "spark.executor_cpu_s": cpu_ns / 1e9,
        "spark.gc_s": gc_ms / 1e3,
        "spark.shuffle_write_bytes": shuffle_w,
        "spark.spill_bytes": spill,
        "spark.task_skew": max(skews, default=1.0),
        "spark.python_run_s": py_ms / 1e3,
        "spark.python_bytes_sent": py_sent,
        "spark.python_bytes_returned": py_ret,
    }
