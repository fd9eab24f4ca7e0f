#!/usr/bin/env python3
"""Benchmark of reddit_etl_pipeline_spark: one workload, one seed.

    python3 perfbench/run.py --workload graph_loops --seed 1 --seconds 5 --trace 0

Run from the repository root. One process, one closed-loop client: the
next op starts when the previous one has finished. The session is the
program's default ``get_spark`` on ``local[nproc]``.

A run sets up the session (import, ``get_spark``, footer reads of the
workload's tables, the Python worker pool) three times, then makes
passes over the workload's ops until ``--seconds`` have elapsed: the
first in the fresh session, any later ones warm. An op is its build call
plus its sink; every op's output is checked, and a failed check counts
as a failed op.

Gated besides set-up time are the Spark jobs and tasks the fresh-session
pass runs, counted from Spark's status store. Each op is also timed in
wall seconds and in CPU seconds of the whole process tree; those timings
go to the detail line only, because on a shared host they drift by more
than any useful bound from one run to the next (see README).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. A traced run adds one traced
warm pass after an untraced one; its per-layer numbers cover that pass.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Best-of-3 calibration probe (bench.calibration_probe) on a quiet 4-core
# host; a run whose probes exceed twice this ran on a degraded host.
HOST_PROBE_FLOOR_S = 0.22

END_TO_END = {
    "setup_s": "s", "pass_jobs": "count", "pass_tasks": "count", "ok_frac": "ratio",
}
# Set-ups a run makes (the session is stopped and started again in the
# same process, so the interpreter start and imports are timed once and
# counted in each); setup_s is their median.
SETUPS = 3
PER_LAYER = {
    "session.start_s": "s", "session.warm_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count", "plans.sink_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.slot_util": "ratio",
    "spark.input_mb": "MB", "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB", "spark.output_mb": "MB", "spark.gc_s": "s",
    "jvm.heap_committed_mb": "MB", "proc.peak_rss_mb": "MB",
    "proc.driver_py_cpu_s": "s", "proc.worker_py_cpu_s": "s", "proc.jvm_cpu_s": "s",
    "operators.connected_components_s": "s", "operators.connected_components_jobs": "count",
    "operators.store_append_s": "s", "operators.store_bytes_written": "bytes",
    "streaming.stage_s": "s", "streaming.staged_files": "count", "streaming.staged_mb": "MB",
    "streaming.batches": "count", "streaming.batch_p50_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.trigger_overhead_ms": "ms",
    "streaming.state_rows": "count",
    "sources.fetch_posts_df_s": "s", "sources.lake_write_s": "s",
    "sources.lake_bytes_written": "bytes",
    "pipeline.upsert_swap_s": "s", "pipeline.warehouse_bytes_rewritten": "bytes",
    "pipeline.sketch_partials_s": "s", "pipeline.models_s": "s",
    "pipeline.quality_asserts_s": "s", "pipeline.stored_bytes_per_input_byte": "ratio",
    "host.probe_s": "s", "trace.overhead_frac": "ratio",
}


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as fh:
        start = int(fh.read().rsplit(")", 1)[1].split()[19]) / os.sysconf("SC_CLK_TCK")
    with open("/proc/uptime") as fh:
        return float(fh.read().split()[0]) - start


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def prepare_env(work: str) -> None:
    """Session environment: local[nproc], every scratch path inside the
    run's work directory, the program's defaults for every other knob."""
    for k in list(os.environ):
        if k.startswith("SPARK_GRAFT_") or k in ("SPARK_MASTER", "PYSPARK_SUBMIT_ARGS"):
            del os.environ[k]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )
    tempfile.tempdir = None
    os.chdir(work)  # stray relative outputs (e.g. spark-warehouse) stay in the work dir


def _warm_workers(batches):
    import numpy  # noqa: F401  (preload into each worker)

    yield from batches


def setup(workload: str):
    """Session start and warm-up; returns (spark, entry module, timings)."""
    from reddit_etl_pipeline_spark.plans import star
    from reddit_etl_pipeline_spark.session import get_spark

    import __spark_entry__ as entry
    from workloads import DATA_DIR, WARM_TABLES, WARM_WORKERS

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    t1 = time.perf_counter()
    for t in WARM_TABLES[workload]:
        star.load(spark, os.path.join(ROOT, DATA_DIR), t).limit(1).collect()
    if WARM_WORKERS[workload]:
        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        spark.range(1000, numPartitions=cpus).mapInPandas(_warm_workers, "id long").count()
    t2 = time.perf_counter()
    return spark, entry, {"session.start_s": t1 - t0, "session.warm_s": t2 - t1}


def jvm_alive() -> bool:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return gw is not None and gw.proc is not None and gw.proc.poll() is None


class Tally:
    """Ops attempted and failed over a run; ``lost`` names a JVM loss."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.lost: str | None = None


def run_pass(spark, ops, tally, log, tracer=None) -> dict:
    """One pass over ``ops``: latencies of the ops that passed their
    check, build/sink split and, when traced, summed per-op counters. If
    the driver JVM dies, the op and the rest of the pass count as failed
    and the pass stops there."""
    import proc

    lat, cpu, build_s, sink_s, build_jobs = {}, {}, 0.0, 0.0, 0.0
    counters: dict[str, float] = {}
    for i, op in enumerate(ops):
        tally.attempted += 1
        mark = tracer.window.mark() if tracer else None
        err = None
        c0 = proc.tree_cpu_s()
        try:
            t0 = time.perf_counter()
            built = op.build(spark)
            t1 = time.perf_counter()
            if tracer:
                jobs_after_build = tracer.window.next_job_id()
                t1 = time.perf_counter()
            result = op.sink(spark, built)
            t2 = time.perf_counter()
            c1 = proc.tree_cpu_s()
            err = op.check(spark, result)
        except Exception as exc:  # noqa: BLE001 - an op that raises is a failed op
            if not jvm_alive():
                rest = len(ops) - i - 1
                tally.attempted += rest
                tally.failed += 1 + rest
                tally.lost = f"driver JVM lost during {op.name}; {rest} later ops of the pass not run"
                log.append({"op": op.name, "error": tally.lost})
                break
            err = f"{type(exc).__name__}: {(str(exc).splitlines() or [''])[0][:300]}"
        if err is None:
            lat[op.name] = t2 - t0
            cpu[op.name] = c1 - c0
            build_s += t1 - t0
            sink_s += t2 - t1
            if tracer:
                build_jobs += tracer.window.succeeded_jobs(mark[0], jobs_after_build)
        else:
            tally.failed += 1
        entry = {"op": op.name, "error": err} if err else {
            "op": op.name, "s": round(lat[op.name], 4), "cpu_s": round(cpu[op.name], 2)}
        if tracer:
            delta = tracer.window.delta(mark)
            entry["jobs"], entry["stages"] = delta["spark.jobs"], delta.get("spark.stages", 0)
            for k, v in delta.items():
                counters[k] = counters.get(k, 0.0) + v
        log.append(entry)
        spark.catalog.clearCache()
    return {"lat": lat, "cpu": cpu, "wall": sum(lat.values()), "build_s": build_s, "sink_s": sink_s,
            "build_jobs": build_jobs, "counters": counters}


def layer_metrics(res, tracer, cpu0, cpu1, extra) -> dict[str, float]:
    from tracing import streaming_metrics

    c, lt = res["counters"], tracer.layers.totals
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    m = {k: 0.0 for k in PER_LAYER}
    m.update({k: v for k, v in {**c, **lt}.items() if k in m})  # same-named counters and layer times
    m.update(streaming_metrics(tracer.events))
    m.update({
        "plans.build_s": res["build_s"], "plans.build_jobs": res["build_jobs"],
        "plans.sink_s": res["sink_s"],
        "spark.slot_util": c.get("spark.task_run_s", 0.0) / (res["wall"] * cores) if res["wall"] else 0.0,
        "jvm.heap_committed_mb": tracer.window.heap_committed_mb(),
        "proc.driver_py_cpu_s": cpu1["driver_py"] - cpu0["driver_py"],
        "proc.worker_py_cpu_s": cpu1["worker_py"] - cpu0["worker_py"],
        "proc.jvm_cpu_s": cpu1["jvm"] - cpu0["jvm"],
        "operators.connected_components_jobs": sum(
            tracer.window.succeeded_jobs(lo, hi)
            for lo, hi in tracer.layers.job_ranges["operators.connected_components"]),
        "operators.store_bytes_written": lt["operators.store_append_bytes"],
        "sources.lake_bytes_written": lt["sources.lake_write_bytes"],
        "pipeline.warehouse_bytes_rewritten": lt["pipeline.upsert_swap_dir_bytes"],
    })
    m.update(extra)
    return {k: float(m[k]) for k in PER_LAYER}


def main() -> int:
    args = parse_args()
    missing = [p for p in ("reddit_etl_pipeline_spark", "__spark_entry__.py", "bench.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program sources not found under {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {WORKLOADS}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    prepare_env(work)
    try:
        return run(args, work)
    finally:
        stop_session()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there


def stop_session() -> None:
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception as exc:  # noqa: BLE001 - a dead JVM cannot stop cleanly
            print(f"perfbench: session stop failed: {exc!r}", file=sys.stderr)
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        if gw.proc is not None:
            gw.proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                gw.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                gw.proc.kill()
                gw.proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


def best_per_op(passes, key: str) -> dict[str, float]:
    """Each op's lowest reading of ``key`` over the warm passes."""
    best: dict[str, float] = {}
    for p in passes:
        for name, v in p[key].items():
            best[name] = min(v, best.get(name, v))
    return best


def run(args, work: str) -> int:
    from pyspark import SparkContext

    import bench
    import proc
    import tracing
    import workloads as W

    tally, log, passes = Tally(), [], []
    traced = tracer = etl = None
    steal0 = proc.host_cpu_ticks()
    with proc.PeakRss() as rss:
        spark, entry, session_t = setup(args.workload)
        setups = [process_age_s()]
        pre_s = setups[0] - sum(session_t.values())  # interpreter start, imports
        while len(setups) < SETUPS:
            stop_session()
            spark, entry, session_t = setup(args.workload)
            setups.append(pre_s + sum(session_t.values()))
        window = tracing.SparkWindow(spark)
        probes = []
        if args.trace:  # host-noise bracket for the per-layer numbers
            bench.warm_probe(spark)
            probes.append(bench.calibration_probe(spark, reps=1))

        if args.workload == "daily_etl":
            etl = W.DailyEtl(args.seed)

            def make_ops(k):  # each pass loads the days into fresh directories
                return etl.ops(os.path.join(work, f"pass{k}"))
        else:
            order = list(W.QUERY_WORKLOADS[args.workload])
            random.Random(args.seed).shuffle(order)
            ops = W.query_ops(order, ROOT, entry)

            def make_ops(k):
                return ops

        # passes[0] runs in the fresh session; a traced run needs one more
        # untraced pass to set its traced pass against.
        t_pass = time.perf_counter()
        while tally.lost is None:
            mark = window.mark()
            passes.append(run_pass(spark, make_ops(len(passes)), tally, log))
            if tally.lost is None:
                passes[-1]["counters"] = window.delta(mark)
            if (len(passes) >= 1 + args.trace
                    and time.perf_counter() - t_pass >= args.seconds):
                break
        if args.trace and tally.lost is None:
            jvm_pid = SparkContext._gateway.proc.pid
            k = len(passes) + 1
            with tracing.Tracer(spark) as tracer:
                cpu0 = proc.cpu_split(jvm_pid)
                traced = run_pass(spark, make_ops(k), tally, log, tracer)
                cpu1 = proc.cpu_split(jvm_pid)
            if tally.lost is None:
                probes.append(bench.calibration_probe(spark, reps=1))

    steal1 = proc.host_cpu_ticks()
    cold, warm = passes[0], passes[1:]
    best_lat, best_cpu = best_per_op(warm, "lat"), best_per_op(warm, "cpu")
    print(json.dumps({"detail": {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "probe_s": probes, "probe_floor_s": HOST_PROBE_FLOOR_S,
        "degraded": max(probes, default=0) > 2 * HOST_PROBE_FLOOR_S,
        "warm_passes": len(warm), "peak_rss_mb": round(rss.peak_mb, 1),
        "host_steal_frac": round((steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]), 4),
        "cold_wall_s": round(cold["wall"], 4), "warm_wall_s": round(sum(best_lat.values()), 4),
        "cold_cpu_s": round(sum(cold["cpu"].values()), 2),
        "warm_cpu_s": round(sum(best_cpu.values()), 2),
        "setups_s": [round(v, 3) for v in setups],
        "counts": [{k: round(v, 3) for k, v in p["counters"].items()} for p in passes],
        "lost": tally.lost, "ops": log,
    }}))

    if args.trace:
        extra = {**session_t, "host.probe_s": max(probes), "proc.peak_rss_mb": rss.peak_mb}
        if traced is not None and passes[-1]["wall"]:
            extra["trace.overhead_frac"] = traced["wall"] / passes[-1]["wall"] - 1
        if etl is not None and traced is not None:
            stored = tracing.dir_bytes(os.path.join(work, f"pass{k}"))
            extra["pipeline.stored_bytes_per_input_byte"] = stored / etl.input_bytes
        metrics = layer_metrics(traced, tracer, cpu0, cpu1, extra) if traced else {
            k: float(extra.get(k, 0.0)) for k in PER_LAYER}
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": statistics.median(setups),
            "pass_jobs": cold["counters"].get("spark.jobs", 0.0),
            "pass_tasks": cold["counters"].get("spark.tasks", 0.0),
            "ok_frac": (tally.attempted - tally.failed) / tally.attempted,
        }
        units = END_TO_END
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
