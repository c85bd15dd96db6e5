"""Benchmark of the spark-jsonata engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload envelope-stream --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout. It generates the workload's inputs
from ``--seed`` under ``.perfbench_work/`` (removed at exit), builds the
engine's session, checks every op's output in an untimed pass, runs one
untimed warm pass, then times passes over the same fixed work for at least
``--seconds`` seconds.
The last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

``--trace 0`` reports the end-to-end metrics (``END_TO_END``). ``--trace 1``
reports the per-layer metrics (``PER_LAYER``): after the untraced timed
passes the session is rebuilt with Spark's event log switched on from
outside the engine and the passes run again, so ``trace.overhead_s`` is
measured within the run. The line before the last carries the run's
context (input sizes, core counts, sample counts, per-op times).

Exit status is 0 once a result is printed, whatever the check found;
it is 2 when the package to measure is not beside this directory.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "kafka_connect_jsonata_spark" / "__init__.py"

# Session builds per run; setup_s is their median. The first one also
# launches the JVM.
SETUPS = 3
MIN_PASSES = 2
DRIVER_MEM = "2g"

# On a virtual machine the host can steal a varying share of every virtual
# CPU's time (measured 1-42% on a 4-vCPU VM, changing minute to minute),
# and wall times follow it. The bounded metrics therefore count CPU time,
# which excludes stolen time; wall-clock figures are reported per layer,
# next to the stolen share. The JVM's peak RSS follows its garbage
# collector's heap growth (757-1307 MB over four runs of one workload),
# so it is reported per layer too.
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "op_cpu_s.geomean": "s",
}
STREAM_PHASES = ("addBatch", "queryPlanning", "getBatch", "walCommit", "commitOffsets", "latestOffset")
PER_LAYER = {
    "wall_s": "s",
    "op_s.geomean": "s",
    "records_per_s": "1/s",
    "batch_s.p50": "s",
    "batch_s.p90": "s",
    "host.stolen_cpu_share": "ratio",
    "jvm_peak_rss_mb": "MB",
    "engine.get_spark_s": "s",
    "sources.readers.warmup_s": "s",
    "queries.construct_s": "s",
    "queries.action_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.python_tasks": "count",
    "spark.jvm_tasks": "count",
    "spark.in_jobs_s": "s",
    "spark.outside_jobs_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.scheduler_wait_s": "s",
    "spark.longest_single_task_stage_s": "s",
    "spark.tasks_failed": "count",
    "spark.stages_retried": "count",
    "spark.input_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "jsonata.parser.parse_us": "us",
    "jsonata.compiler.compile_ms": "ms",
    "jsonata.interpreter.us_per_row": "us",
    "transform.compiled_share": "ratio",
    **{f"streaming.{p}_ms": "ms" for p in STREAM_PHASES},
    "streaming.batches": "count",
    "streaming.compiled.batch_s.p50": "s",
    "streaming.interpreter.batch_s.p50": "s",
    "dedup.kept_ratio": "ratio",
    "trace.overhead_s": "s",
    "trace.overhead_cpu_s": "s",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: Path) -> None:
    """Run settings the engine reads from its environment, pinned here so
    the engine's own defaults (32 cores, a 48g heap) stay untouched. Must
    run before the JVM starts."""
    for sub in ("local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={work / 'tmp'} pyspark-shell"
    )


def enable_event_log(spark, log_dir: Path) -> None:
    """Switch Spark's event log on for sessions built from now on. Spark
    reads ``spark.*`` JVM system properties into every new SparkConf —
    the mechanism behind ``spark-submit --conf`` — so the engine's
    ``get_spark`` stays as it is."""
    log_dir.mkdir(parents=True, exist_ok=True)
    system = spark._jvm.java.lang.System
    system.setProperty("spark.eventLog.enabled", "true")
    system.setProperty("spark.eventLog.dir", log_dir.as_uri())
    system.setProperty("spark.eventLog.compress", "false")


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def stop_jvm() -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - still running: kill and reap it
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this
    process and every process under it — the JVM and its Python workers —
    from /proc. Time the host stole from the virtual CPUs is not in it."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                raw = f.read()
        except OSError:  # exited meanwhile
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        total += procs.get(pid, (0, 0))[1]
        stack.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) ticks of all CPUs so far, from /proc/stat. Stolen
    ticks are time a virtual CPU wanted to run but the host ran something
    else."""
    with open("/proc/stat", encoding="ascii") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v[:8]
    return user + nice + system + irq + softirq, steal


def build_session(wl, get_spark) -> tuple:
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    wl.warm_readers(spark)
    t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def timed_passes(spark, wl, seconds: float, tag: str, min_passes: int = MIN_PASSES) -> list[list]:
    """Run every op once per pass, for at least ``seconds`` and
    ``min_passes`` passes."""
    from workloads import OpRun

    passes: list[list] = []
    deadline = time.time() + seconds
    while len(passes) < min_passes or time.time() < deadline:
        runs = []
        for op in wl.ops:
            t, cpu = time.time(), tree_cpu_s()
            try:
                run = wl.run_op(spark, op, f"{tag}{len(passes)}")
            except Exception as e:  # noqa: BLE001 - a raising op is counted as failed
                run = OpRun(op, t, 0.0, time.time() - t, time.time(), error=repr(e))
            run.cpu_s = tree_cpu_s() - cpu
            runs.append(run)
        passes.append(runs)
    return passes


def count_errors(passes) -> int:
    errors = [r for p in passes for r in p if r.error]
    for r in errors:
        print(f"[perfbench] {r.op} failed in a pass: {r.error}"[:500], flush=True)
    return len(errors)


def pass_wall_s(runs) -> float:
    return runs[-1].end - runs[0].start


def geomean(values) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def summarize(wl, passes) -> tuple[dict, dict]:
    """Pass-level figures of the fixed work. CPU seconds take the least
    over passes (the min-of-passes protocol): JIT compilation still running
    after the warm pass and contention from other tenants only ever add
    CPU time. Wall-clock figures take the median."""
    def per_op(cost, stat):
        return {op: stat(cost(r) for p in passes for r in p if r.op == op) for op in wl.ops}

    op_cpu = per_op(lambda r: r.cpu_s, min)
    op_wall = per_op(lambda r: r.construct_s + r.action_s, statistics.median)
    wall = statistics.median(pass_wall_s(p) for p in passes)
    batches = [b for p in passes for r in p for b in r.batch_s]
    figures = {
        "cpu_s": min(sum(r.cpu_s for r in p) for p in passes),
        "op_cpu_s.geomean": geomean(op_cpu.values()),
        "wall_s": wall,
        "op_s.geomean": geomean(op_wall.values()),
        "records_per_s": wl.records_per_pass() / wall,
        "batch_s.p50": statistics.median(batches),
        "batch_s.p90": statistics.quantiles(batches, n=10)[-1] if len(batches) > 1 else batches[0],
    }
    context = {"per_op_cpu_s": op_cpu, "per_op_wall_s": op_wall, "batch_samples": len(batches),
               "pass_wall_s": [pass_wall_s(p) for p in passes],
               "pass_cpu_s": [sum(r.cpu_s for r in p) for p in passes]}
    return figures, context


def tracker_counts(spark, passes) -> dict:
    """Jobs, stages and tasks per pass from ``sc.statusTracker()``, by the
    job group of each op (a stream's jobs run under its run id)."""
    st = spark.sparkContext.statusTracker()
    per_pass = []
    for runs in passes:
        jobs = stages = tasks = 0
        for r in runs:
            for jid in st.getJobIdsForGroup(r.job_group):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    s = st.getStageInfo(sid)
                    done = 0 if s is None else s.numCompletedTasks + s.numFailedTasks
                    if done:
                        stages += 1
                        tasks += done
        per_pass.append({"spark.jobs": jobs, "spark.stages": stages, "spark.tasks": tasks})
    return {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}


def stream_layers(passes) -> dict:
    """Micro-batch figures from the progress the streams reported: the
    median ``durationMs`` phase per batch, batches per pass, and each
    stream's median trigger time."""
    progress = [pr for p in passes for r in p for pr in r.progress]
    if not progress:
        return {}
    out = {}
    for phase in STREAM_PHASES:
        out[f"streaming.{phase}_ms"] = statistics.median(
            pr["durationMs"].get(phase, 0) for pr in progress
        )
    out["streaming.batches"] = statistics.median(
        sum(len(r.progress) for r in p) for p in passes
    )
    for op in ("compiled", "interpreter"):
        samples = [b for p in passes for r in p if r.op == op for b in r.batch_s]
        if samples:
            out[f"streaming.{op}.batch_s.p50"] = statistics.median(samples)
    return out


def run(args, work: Path) -> tuple[dict, dict]:
    pin_environment(work)
    sys.path[:0] = [str(HERE), str(ROOT), str(ROOT / "tools")]
    from workloads import WORKLOADS

    from kafka_connect_jsonata_spark.engine import get_spark

    wl = WORKLOADS[args.workload](str(work), args.seed, args.size)
    inputs = wl.generate()

    setups, get_spark_s, warm_s = [], [], []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        spark, built, warmed = build_session(wl, get_spark)
        setups.append(built + warmed)
        get_spark_s.append(built)
        warm_s.append(warmed)

    failed_ops, facts = wl.check(spark, args.corrupt_expected)
    attempted, failed = len(wl.ops), len(failed_ops)

    # one untimed pass of exactly the timed work: the JIT keeps compiling
    # through the first passes after the check
    warm = timed_passes(spark, wl, 0, "warm", min_passes=1)
    busy0, steal0 = cpu_ticks()
    passes = timed_passes(spark, wl, args.seconds, "untraced")
    busy1, steal1 = cpu_ticks()
    attempted += sum(len(p) for p in warm + passes)
    failed += count_errors(warm + passes)
    figures, context = summarize(wl, passes)
    stolen = (steal1 - steal0) / max(1, busy1 - busy0 + steal1 - steal0)
    metrics = {**figures, "setup_s": statistics.median(setups),
               "jvm_peak_rss_mb": jvm_peak_rss_mb(spark), "host.stolen_cpu_share": stolen}
    context.update(
        workload=wl.name, seed=args.seed, size=args.size, nproc=nproc(),
        defaultParallelism=spark.sparkContext.defaultParallelism,
        inputs=inputs, failed_ops=failed_ops, setup_samples_s=setups, stolen_cpu_share=stolen,
    )
    if not args.trace:
        return metrics, {"correct": failed == 0, "attempted": attempted, "failed": failed,
                         "context": context}

    layers = dict.fromkeys(PER_LAYER, 0.0)
    layers.update({k: v for k, v in metrics.items() if k in PER_LAYER})
    layers.update(facts)
    layers["engine.get_spark_s"] = statistics.median(get_spark_s)
    layers["sources.readers.warmup_s"] = statistics.median(warm_s)
    layers["queries.construct_s"] = statistics.median(sum(r.construct_s for r in p) for p in passes)
    layers["queries.action_s"] = statistics.median(sum(r.action_s for r in p) for p in passes)
    layers.update(tracker_counts(spark, passes))
    layers.update(stream_layers(passes))
    if hasattr(wl, "jsonata_probe"):
        layers.update(wl.jsonata_probe(spark))

    import eventlog

    log_dir = work / "eventlog"
    enable_event_log(spark, log_dir)
    spark.stop()
    spark, _, _ = build_session(wl, get_spark)
    warm = timed_passes(spark, wl, 0, "traced-warm", min_passes=1)
    traced = timed_passes(spark, wl, args.seconds, "traced")
    attempted += sum(len(p) for p in warm + traced)
    failed += count_errors(warm + traced)
    spark.stop()  # finishes the event log
    per_pass = eventlog.layer_metrics(eventlog.read_events(str(log_dir)), traced)
    for key in eventlog.LAYER_KEYS:
        layers[key] = statistics.median(m[key] for m in per_pass)
    traced_figures, _ = summarize(wl, traced)
    layers["trace.overhead_s"] = traced_figures["wall_s"] - metrics["wall_s"]
    layers["trace.overhead_cpu_s"] = traced_figures["cpu_s"] - metrics["cpu_s"]
    context["traced_passes"] = len(traced)
    return layers, {"correct": failed == 0, "attempted": attempted, "failed": failed,
                    "context": context}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["envelope-stream", "curation-batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="input size; 'tiny' is for the benchmark's smoke test")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="perturb one op's expected output (smoke test of the check)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not PACKAGE.is_file():
        print(f"perfbench: no engine package at {PACKAGE.parent}; "
              "run from the root of a checkout of the repository", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        metrics, outcome = run(args, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps(outcome.pop("context"), sort_keys=True, default=str))
    print(json.dumps({
        **outcome,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
