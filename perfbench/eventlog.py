"""Per-layer Spark numbers from an event log, inside the benchmark's spans.

The traced run enables Spark's event log from outside the engine (plain
``spark.eventLog.*`` settings, uncompressed). A job belongs to an op when
it was submitted inside the op's wall-clock span; its stages and tasks
follow it. Numbers are summed per pass.
"""

from __future__ import annotations

import glob
import json
import os
import re

# Stages that run Python: their RDD scopes name a Python physical operator
# (ArrowEvalPython, MapInPandas, FlatMapGroupsInPandas, ...) or a PythonRDD.
PYTHON_SCOPE = re.compile(r"Python|InPandas|InArrow|ArrowEval")

LAYER_KEYS = (
    "spark.python_tasks",
    "spark.jvm_tasks",
    "spark.in_jobs_s",
    "spark.outside_jobs_s",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.scheduler_wait_s",
    "spark.longest_single_task_stage_s",
    "spark.tasks_failed",
    "spark.stages_retried",
    "spark.input_mb",
    "spark.shuffle_write_mb",
)


def read_events(log_dir: str) -> list[dict]:
    """All events of the one application logged under ``log_dir``, in
    order, for either layout: a single file, or the rolling
    ``eventlog_v2_*`` directory of numbered ``events_<n>_*`` parts."""
    apps = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(apps) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {apps}")
    app = apps[0]
    if os.path.isdir(app):
        parts = [p for p in os.listdir(app) if p.startswith("events_")]
        files = [os.path.join(app, p) for p in sorted(parts, key=lambda p: int(p.split("_")[1]))]
    else:
        files = [app]
    events = []
    for path in files:
        with open(path, encoding="utf-8") as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _is_python_stage(info: dict) -> bool:
    for rdd in info.get("RDD Info", []):
        scope = rdd.get("Scope") or ""
        try:
            scope = json.loads(scope).get("name", "")
        except ValueError:
            pass
        if PYTHON_SCOPE.search(scope) or PYTHON_SCOPE.search(rdd.get("Name", "")):
            return True
    return False


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def layer_metrics(events: list[dict], passes: list[list]) -> list[dict]:
    """One dict of ``LAYER_KEYS`` per pass. ``passes`` holds each pass's
    op runs, with ``start``/``end`` in epoch seconds."""
    jobs: dict[int, dict] = {}
    stages: dict[tuple[int, int], dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {"start": ev["Submission Time"] / 1000, "end": None}
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
        elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
            info = ev["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            st = stages.setdefault(key, {"python": _is_python_stage(info)})
            if info.get("Submission Time") is not None:
                st["submitted"] = info["Submission Time"] / 1000
            if info.get("Completion Time") is not None:
                st["completed"] = info["Completion Time"] / 1000
            st["num_tasks"] = info.get("Number of Tasks", 0)
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)

    def owner(t: float, spans: list[tuple[float, float]]) -> bool:
        return any(a <= t <= b for a, b in spans)

    out = []
    for runs in passes:
        spans = [(r.start, r.end) for r in runs]
        job_ids = {j for j, v in jobs.items() if owner(v["start"], spans)}
        m = dict.fromkeys(LAYER_KEYS, 0.0)
        clipped = []
        for j in job_ids:
            a, b = jobs[j]["start"], jobs[j]["end"] or jobs[j]["start"]
            for s0, s1 in spans:
                if s0 <= a <= s1:
                    clipped.append((a, min(b, s1)))
        m["spark.in_jobs_s"] = _union_s(clipped)
        m["spark.outside_jobs_s"] = sum(b - a for a, b in spans) - m["spark.in_jobs_s"]
        my_stages = {k: v for k, v in stages.items() if stage_job.get(k[0]) in job_ids}
        m["spark.stages_retried"] = sum(1 for k in my_stages if k[1] > 0)
        for (sid, _att), st in my_stages.items():
            if st.get("num_tasks") == 1 and "submitted" in st and "completed" in st:
                m["spark.longest_single_task_stage_s"] = max(
                    m["spark.longest_single_task_stage_s"], st["completed"] - st["submitted"]
                )
        for ev in tasks:
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            st = my_stages.get(key)
            if st is None:
                continue
            info = ev.get("Task Info", {})
            tm = ev.get("Task Metrics") or {}
            m["spark.python_tasks" if st["python"] else "spark.jvm_tasks"] += 1
            if ev.get("Task End Reason", {}).get("Reason") != "Success":
                m["spark.tasks_failed"] += 1
            m["spark.executor_run_s"] += tm.get("Executor Run Time", 0) / 1000
            m["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            if "submitted" in st and info.get("Launch Time"):
                m["spark.scheduler_wait_s"] += max(0.0, info["Launch Time"] / 1000 - st["submitted"])
            m["spark.input_mb"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0) / 1e6
            m["spark.shuffle_write_mb"] += (
                (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
            )
        out.append(m)
    return out
