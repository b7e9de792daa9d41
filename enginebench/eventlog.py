"""Spark event-log reader: per-op JVM, shuffle, sort and Python-boundary
figures for the jobs submitted inside traced op windows.

Jobs are tagged per phase with ``setJobGroup``; a job counts toward the
traced ops when its submission time falls inside one of their windows,
which also catches jobs started from helper threads (encode_table's
sampling thread) that do not inherit the group."""

from __future__ import annotations

import json
import os

# PythonSQLMetrics display names (Spark 4.1)
PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
SORT_TIME = "sort time"


def _events(log_dir: str):
    for d, _, names in sorted(os.walk(log_dir)):
        for name in sorted(names):
            if name.startswith("appstatus"):
                continue
            with open(os.path.join(d, name)) as f:
                for line in f:
                    yield json.loads(line)


def op_layers(
    log_dir: str, windows: list[tuple[float, float]], n_ops: int
) -> tuple[dict[str, float], dict[str, int]]:
    """Per-op means over the jobs whose submission time (epoch seconds)
    lies in a window, and the count of those jobs per job group."""
    stage_job: dict[int, int] = {}
    jobs: dict[int, str] = {}
    totals = dict.fromkeys(
        ("run_ms", "shuffle_records", "shuffle_bytes", "sort_ms", "py_ms",
         "py_rows_in", "py_bytes_in"),
        0.0,
    )

    def in_window(t_ms: float) -> bool:
        t = t_ms / 1e3
        return any(a <= t <= b for a, b in windows)

    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if in_window(ev["Submission Time"]):
                job = ev["Job ID"]
                jobs[job] = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, job)
        elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
            tm = ev.get("Task Metrics") or {}
            totals["run_ms"] += tm.get("Executor Run Time", 0)
            sw = tm.get("Shuffle Write Metrics") or {}
            totals["shuffle_records"] += sw.get("Shuffle Records Written", 0)
            totals["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
            acc = {}
            for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                if a.get("Name") in (PY_TIME, PY_SENT, SORT_TIME):
                    acc[a["Name"]] = acc.get(a["Name"], 0) + int(a.get("Update") or 0)
            totals["sort_ms"] += acc.get(SORT_TIME, 0)
            totals["py_ms"] += acc.get(PY_TIME, 0)
            if acc.get(PY_SENT):
                totals["py_bytes_in"] += acc[PY_SENT]
                sr = tm.get("Shuffle Read Metrics") or {}
                inp = tm.get("Input Metrics") or {}
                totals["py_rows_in"] += sr.get("Total Records Read", 0) + inp.get(
                    "Records Read", 0
                )
    n = max(1, n_ops)
    groups: dict[str, int] = {}
    for g in jobs.values():
        groups[g or "(untagged)"] = groups.get(g or "(untagged)", 0) + 1
    return {
        "spark.jobs": len(jobs) / n,
        "jvm.executor_run_s": totals["run_ms"] / 1e3 / n,
        "jvm.shuffle_records": totals["shuffle_records"] / n,
        "jvm.shuffle_write_mb": totals["shuffle_bytes"] / 1e6 / n,
        "jvm.sort_s": totals["sort_ms"] / 1e3 / n,
        "boundary.python_s": totals["py_ms"] / 1e3 / n,
        "boundary.rows_to_python": totals["py_rows_in"] / n,
        "boundary.mb_to_python": totals["py_bytes_in"] / 1e6 / n,
    }, groups
