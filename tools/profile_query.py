"""Per-job wall-clock breakdown of one registry query (guide §1: measure
first; §7.1: find WHERE the time goes before touching anything).

Runs the query under the engine's own ``get_spark`` session with the event
log switched on from outside it, warms up exactly like bench.py (tables +
Python workers + one untimed sf0.001 pass), times N ``count()`` runs, then
parses the Spark event log and prints every job inside the timed window:
duration, stage count/names (call sites), task counts. The job list is the
measurable decomposition of a multi-action pipeline query — checkpoint
materializations, probe counts and driver collects each show up as their
own row.

Usage: python tools/profile_query.py <query> [runs=2] [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_connect_jsonata_spark import queries as Q
from kafka_connect_jsonata_spark.engine import get_spark
from kafka_connect_jsonata_spark.sources.readers import TABLES, load_table


def enable_event_log(log_dir: str) -> None:
    """Switch Spark's event log on for the session ``get_spark`` builds
    next: ``--conf`` in the submit arguments become ``spark.*`` JVM system
    properties, which every new SparkConf reads. Must run before the JVM
    starts."""
    conf = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    args = os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {k}={v}" for k, v in conf.items()] + [args]
    )


def main() -> None:
    name = sys.argv[1]
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    log_dir = "/tmp/spark-events"
    os.makedirs(log_dir, exist_ok=True)
    enable_event_log(log_dir)
    spark = get_spark("profile")
    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    spark.range(32 * 10).repartition(32).mapInPandas(lambda it: it, "id long").count()
    warm = "/root/testdata/sf0.001"
    if os.path.isdir(warm):
        Q.QUERIES[name](spark, warm).count()
        Q.QUERIES[name](spark, sf_dir).count()  # steady-state warm at sf too

    windows = []
    for i in range(runs):
        t0 = time.time() * 1000
        df = Q.QUERIES[name](spark, sf_dir)
        spark.sparkContext.setJobDescription("action:count")
        df.count()
        spark.sparkContext.setJobDescription(None)
        t1 = time.time() * 1000
        windows.append((t0, t1))
        print(f"run {i}: {(t1 - t0) / 1000:.3f}s")

    app_id = spark.sparkContext.applicationId
    spark.stop()  # flush the event log
    # Spark 4 rolling layout: eventlog_v2_<appId>/events_*; fall back to the
    # single-file layout for older versions
    candidates = [
        os.path.join(log_dir, app_id),
        os.path.join(log_dir, app_id + ".inprogress"),
    ]
    v2 = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    if os.path.isdir(v2):
        candidates = sorted(
            os.path.join(v2, f) for f in os.listdir(v2) if f.startswith("events_")
        )
    lines: list[str] = []
    for path in candidates:
        if os.path.exists(path):
            with open(path) as f:
                lines.extend(f)
    jobs: dict[int, dict] = {}
    stages_done: list[dict] = []
    run_by_stage: dict[int, int] = {}
    if True:
        for line in lines:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                stages = ev.get("Stage Infos", [])
                jobs[jid] = {
                    "start": ev["Submission Time"],
                    "desc": (ev.get("Properties") or {}).get(
                        "spark.job.description", ""
                    ),
                    "stages": [
                        (s.get("Stage Name", ""), s.get("Number of Tasks", 0))
                        for s in stages
                    ],
                }
            elif e == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in jobs:
                    jobs[jid]["end"] = ev["Completion Time"]
            elif e == "SparkListenerStageCompleted":
                si = ev.get("Stage Info", {})
                if "Submission Time" in si and "Completion Time" in si:
                    scopes = []
                    for r in si.get("RDD Info", []):
                        sc_raw = r.get("Scope")
                        if sc_raw:
                            try:
                                nm = json.loads(sc_raw).get("name", "")
                            except json.JSONDecodeError:
                                nm = ""
                            if nm and (not scopes or scopes[-1] != nm):
                                scopes.append(nm)
                    stages_done.append(
                        {
                            "id": si.get("Stage ID"),
                            "name": si.get("Stage Name", ""),
                            "scopes": scopes,
                            "start": si["Submission Time"],
                            "end": si["Completion Time"],
                            "tasks": si.get("Number of Tasks", 0),
                        }
                    )
            elif e == "SparkListenerTaskEnd":
                sid = ev.get("Stage ID")
                tm = ev.get("Task Metrics") or {}
                run_by_stage[sid] = run_by_stage.get(sid, 0) + tm.get(
                    "Executor Run Time", 0
                )

    for wi, (t0, t1) in enumerate(windows):
        print(f"\n=== run {wi}: {(t1 - t0) / 1000:.3f}s total ===")
        inwin = [
            (jid, j)
            for jid, j in sorted(jobs.items())
            if "end" in j and j["start"] >= t0 - 50 and j["end"] <= t1 + 50
        ]
        covered = sum(j["end"] - j["start"] for _, j in inwin)
        gap = (t1 - t0) - covered
        print(f"{len(inwin)} jobs, {covered / 1000:.3f}s in jobs, "
              f"{gap / 1000:.3f}s outside jobs (planning/driver)")
        prev_end = t0
        for jid, j in inwin:
            dur = (j["end"] - j["start"]) / 1000
            idle = (j["start"] - prev_end) / 1000
            prev_end = j["end"]
            if j["desc"]:
                names = j["desc"][:70]
            else:
                names = "; ".join(
                    f"{n.split(chr(10))[0][:40]}[{k}]" for n, k in j["stages"]
                )
            ntask = sum(k for _, k in j["stages"])
            print(
                f"  job {jid}: {dur:6.3f}s (gap {idle:6.3f}s, {ntask:3d} tasks) {names}"
            )
        print("  -- stages >=80ms in window --")
        for s in sorted(
            (s for s in stages_done if s["start"] >= t0 - 50 and s["end"] <= t1 + 50),
            key=lambda s: s["start"],
        ):
            d = (s["end"] - s["start"]) / 1000
            if d >= 0.08:
                run = run_by_stage.get(s["id"], 0) / 1000
                print(
                    f"  stage {s['id']:4d}: {d:6.3f}s (run {run:6.3f}s) "
                    f"[{s['tasks']:3d}t] {' > '.join(s['scopes'][:8])[:110]}"
                )


if __name__ == "__main__":
    main()
