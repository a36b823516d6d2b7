"""Engine-side breakdown from Spark's (uncompressed) JSON event log.

Only events inside a wall-clock window count, so one log can serve
several timed phases. Times in the log are epoch milliseconds.
"""

from __future__ import annotations

import json
import os

from spans import covered

#: task-level SQL metrics the Python runners publish, by event-log name
PYTHON_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
_PY_TIME = {"python.boot_s", "python.init_s", "python.run_s"}


def log_files(log_dir: str) -> list[str]:
    """Every event file under ``log_dir``: plain logs and the
    ``events_<n>_*`` parts of rolling ``eventlog_v2_*`` directories."""
    out = []
    for root, _dirs, files in os.walk(log_dir):
        for f in files:
            if f.startswith(".") or f.startswith("appstatus") or f.endswith(".crc"):
                continue
            out.append(os.path.join(root, f))
    return sorted(out)


def read_events(log_dir: str) -> list[dict]:
    events = []
    for path in log_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def summarize(events: list[dict], lo_ms: float, hi_ms: float) -> dict[str, float]:
    """Jobs, stages, tasks, executor time, shuffle, spill and Python
    worker time for work that started inside [lo_ms, hi_ms].
    ``spark.driver_s`` is the window's wall time not covered by any
    running job."""
    inside = lambda t: t is not None and lo_ms <= t <= hi_ms  # noqa: E731
    job_start: dict[int, float] = {}
    job_end: dict[int, float] = {}
    out = {
        "spark.jobs": 0,
        "spark.stages": 0,
        "spark.tasks": 0,
        "spark.executor_run_s": 0.0,
        "spark.executor_cpu_s": 0.0,
        "spark.gc_s": 0.0,
        "spark.input_bytes": 0,
        "spark.shuffle_write_bytes": 0,
        "spark.shuffle_read_bytes": 0,
        "spark.spill_bytes": 0,
    }
    out.update({v: 0.0 if v in _PY_TIME else 0 for v in PYTHON_METRICS.values()})
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart" and inside(e.get("Submission Time")):
            job_start[e["Job ID"]] = e["Submission Time"]
        elif kind == "SparkListenerJobEnd":
            job_end[e["Job ID"]] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            if inside(e["Stage Info"].get("Submission Time")):
                out["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            info = e.get("Task Info", {})
            if not inside(info.get("Launch Time")):
                continue
            out["spark.tasks"] += 1
            m = e.get("Task Metrics") or {}
            out["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            out["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            out["spark.input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
            out["spark.shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            rd = m.get("Shuffle Read Metrics", {})
            out["spark.shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            out["spark.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            for acc in info.get("Accumulables", []):
                key = PYTHON_METRICS.get(acc.get("Name"))
                if key is None:
                    continue
                val = float(acc.get("Update") or 0)
                out[key] += val / 1e3 if key in _PY_TIME else int(val)
    intervals = [(s, job_end.get(j, hi_ms)) for j, s in job_start.items()]
    out["spark.jobs"] = len(job_start)
    out["spark.driver_s"] = ((hi_ms - lo_ms) - covered(intervals, lo_ms, hi_ms)) / 1e3
    return out
