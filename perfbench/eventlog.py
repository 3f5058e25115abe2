"""Fold a Spark event log (uncompressed JSON lines) into per-layer metrics.

Only jobs submitted at or after ``since_ms`` count, so the set-up jobs of
a traced run stay out of the figures; every value is divided by
``n_jobs``, the number of timed program jobs in the window, to give a
per-job figure.

Sources in the log:
  * task metrics of ``SparkListenerTaskEnd``: run/CPU/GC time, scan,
    output, shuffle and spill bytes;
  * SQL metrics reported as task accumulables: the Python operators'
    ``time to run Python workers``, ``time to start Python workers`` and ``data sent to / returned from Python workers``;
  * ``SparkListenerJobStart`` and ``SparkListenerSQLExecutionStart``
    counts, which show a plan recomputed by extra actions.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

MB = 2**20

METRICS = (
    ("spark.sql_executions", "count"), ("spark.jobs", "count"),
    ("spark.python_operator_runs", "count"),
    ("spark.python_worker_s", "s"), ("spark.python_worker_start_s", "s"),
    ("spark.arrow_to_python_mb", "MB"), ("spark.arrow_from_python_mb", "MB"),
    ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
    ("spark.fetch_wait_s", "s"),
    ("spark.task_s_p50", "s"), ("spark.task_s_max", "s"),
    ("spark.task_skew", "ratio"),
    ("spark.scan_mb", "MB"), ("spark.output_mb", "MB"),
    ("spark.output_rows", "count"),
    ("spark.spill_mb", "MB"), ("spark.gc_s", "s"),
    ("spark.executor_cpu_s", "s"),
)

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def read_events(log_dir: str) -> list[dict]:
    """Events of every application log under ``log_dir``, in file order:
    Spark 4 writes one ``eventlog_v2_<app>/events_<n>_<app>`` directory
    per application."""
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
                   key=lambda p: (os.path.dirname(p),
                                  int(os.path.basename(p).split("_")[1])))
    events = []
    for path in files:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def fold(events: list[dict], since_ms: int = 0, n_jobs: int = 1) -> dict:
    """Per-job metric values (see ``METRICS``) from parsed events."""
    stages: set[int] = set()
    n_spark_jobs = n_sql = 0
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart" and e["Submission Time"] >= since_ms:
            n_spark_jobs += 1
            stages.update(e["Stage IDs"])
        elif kind == _SQL_START and e["time"] >= since_ms:
            n_sql += 1

    acc = {"run": 0.0, "start": 0.0, "to_py": 0.0, "from_py": 0.0}
    py_ops: set[int] = set()
    t = {"cpu_ns": 0, "gc_ms": 0, "scan": 0, "out_b": 0, "out_r": 0,
         "sw": 0, "sr": 0, "fw_ms": 0, "spill": 0}
    stage_tasks: dict[int, list[float]] = {}
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd" or e["Stage ID"] not in stages:
            continue
        m = e.get("Task Metrics")
        if not m:          # a task that failed before reporting metrics
            continue
        t["cpu_ns"] += m["Executor CPU Time"]
        t["gc_ms"] += m["JVM GC Time"]
        t["scan"] += m["Input Metrics"]["Bytes Read"]
        t["out_b"] += m["Output Metrics"]["Bytes Written"]
        t["out_r"] += m["Output Metrics"]["Records Written"]
        t["sw"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        sr = m["Shuffle Read Metrics"]
        t["sr"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
        t["fw_ms"] += sr["Fetch Wait Time"]
        t["spill"] += m["Disk Bytes Spilled"]
        stage_tasks.setdefault(e["Stage ID"], []).append(
            m["Executor Run Time"] / 1000)
        for a in e["Task Info"].get("Accumulables", ()):
            name, upd = a.get("Name"), a.get("Update")
            if upd is None:
                continue
            if name == "time to run Python workers":
                acc["run"] += float(upd)
                py_ops.add(a["ID"])
            elif name == "time to start Python workers":
                acc["start"] += float(upd)
            elif name == "data sent to Python workers":
                acc["to_py"] += float(upd)
            elif name == "data returned from Python workers":
                acc["from_py"] += float(upd)

    heavy = max(stage_tasks.values(), key=sum, default=[0.0])
    p50 = statistics.median(heavy)
    n = max(n_jobs, 1)
    return {
        "spark.sql_executions": n_sql / n,
        "spark.jobs": n_spark_jobs / n,
        "spark.python_operator_runs": len(py_ops) / n,
        "spark.python_worker_s": acc["run"] / 1000 / n,
        "spark.python_worker_start_s": acc["start"] / 1000 / n,
        "spark.arrow_to_python_mb": acc["to_py"] / MB / n,
        "spark.arrow_from_python_mb": acc["from_py"] / MB / n,
        "spark.shuffle_write_mb": t["sw"] / MB / n,
        "spark.shuffle_read_mb": t["sr"] / MB / n,
        "spark.fetch_wait_s": t["fw_ms"] / 1000 / n,
        # task-time figures describe the heaviest stage of the window
        "spark.task_s_p50": p50,
        "spark.task_s_max": max(heavy),
        "spark.task_skew": max(heavy) / p50 if p50 > 0 else 1.0,
        "spark.scan_mb": t["scan"] / MB / n,
        "spark.output_mb": t["out_b"] / MB / n,
        "spark.output_rows": t["out_r"] / n,
        "spark.spill_mb": t["spill"] / MB / n,
        "spark.gc_s": t["gc_ms"] / 1000 / n,
        "spark.executor_cpu_s": t["cpu_ns"] / 1e9 / n,
    }
