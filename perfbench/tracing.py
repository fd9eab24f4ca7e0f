"""Outside-in per-layer trace for the traced run.

Nothing here edits the program. Three sources:

- Layer spans: public functions of the package are wrapped where every
  caller looks them up (each module attribute bound to the function),
  timing the outermost call per thread and counting the Spark jobs
  submitted and the bytes a call leaves in the directory it writes.
- Spark counters: jobs and stages are numbered in submission order by
  the DAG scheduler, so an op's window is the id range between two
  reads of the scheduler's next ids. Micro-batch jobs run on stream
  threads and carry no caller job group; the window catches them too.
  Per-stage metrics come from Spark's status store after the listener
  bus drains.
- Streaming progress: a StreamingQueryListener collects each query's
  progress events (durations per phase, state rows).
"""

from __future__ import annotations

import functools
import inspect
import os
import statistics
import sys
import threading
import time
from collections import defaultdict

PKG = "reddit_etl_pipeline_spark"

# metric prefix -> (module, function names, directory parameter or None)
LAYERS = {
    "operators.connected_components": [(f"{PKG}.operators.dedup", ["connected_components"], None)],
    "operators.store_append": [
        (f"{PKG}.operators.graph_store", ["append_batch"], "store_dir"),
        (f"{PKG}.operators.neardup_store", ["append_batch"], "store_dir"),
        (f"{PKG}.operators.ann_store", ["append_batch", "append_lsh_batch", "append_pq_batch"], "store_dir"),
        (f"{PKG}.operators.sketch_store", ["append_day"], "store_dir"),
    ],
    "streaming.stage": [(f"{PKG}.streaming.bounded", ["stage_bounded_stream", "stage_sliced_stream"], None)],
    "sources.fetch_posts_df": [(f"{PKG}.sources.reddit_api", ["fetch_posts_df"], None)],
    "sources.lake_write": [(f"{PKG}.sources.lake", ["write_table"], "path")],
    "pipeline.upsert_swap": [(f"{PKG}.plans.pipeline", ["_upsert_warehouse"], "warehouse_path")],
    "pipeline.sketch_partials": [(f"{PKG}.plans.pipeline", ["write_post_sketch_partials"], None)],
    "pipeline.models": [(f"{PKG}.plans.models", ["run_models"], None)],
    "pipeline.quality_asserts": [(f"{PKG}.operators.quality", ["assert_unique", "assert_not_null"], None)],
}


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def dir_files(path: str) -> int:
    return sum(
        1 for _, _, files in os.walk(path) for f in files if not f.startswith((".", "_"))
    )


class Layers:
    """Wraps the LAYERS functions; accumulates per-layer totals."""

    def __init__(self, next_job_id):
        self._next_job_id = next_job_id
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        self.totals: dict[str, float] = defaultdict(float)
        self.job_ranges: dict[str, list[tuple[int, int]]] = defaultdict(list)

    def _wrap(self, layer: str, fn, dir_param: str | None):
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            depth = getattr(self._local, layer, 0)
            if depth:  # nested call of the same layer: the outer span counts it
                return fn(*args, **kwargs)
            d = None
            if dir_param is not None:
                d = sig.bind_partial(*args, **kwargs).arguments.get(dir_param)
            before = dir_bytes(d) if d else 0
            jobs0 = self._next_job_id()
            setattr(self._local, layer, 1)
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                setattr(self._local, layer, 0)
            with self._lock:
                t = self.totals
                t[f"{layer}_s"] += dt
                self.job_ranges[layer].append((jobs0, self._next_job_id()))
                if d:
                    after = dir_bytes(d)
                    t[f"{layer}_bytes"] += after - before
                    t[f"{layer}_dir_bytes"] += after
                if layer == "streaming.stage" and isinstance(out, str):
                    t["streaming.staged_files"] += dir_files(out)
                    t["streaming.staged_mb"] += dir_bytes(out) / 2**20
            return out

        return wrapper

    def install(self) -> None:
        import importlib

        for layer, specs in LAYERS.items():
            for mod_name, names, dir_param in specs:
                mod = importlib.import_module(mod_name)
                for name in names:
                    fn = getattr(mod, name)
                    wrapped = self._wrap(layer, fn, dir_param)
                    # rebind every module attribute that holds the function,
                    # so `from x import f` callers see the wrapper too
                    for m in list(sys.modules.values()):
                        if not str(getattr(m, "__name__", "")).startswith((PKG, "__spark_entry__")):
                            continue
                        for attr, val in list(vars(m).items()):
                            if val is fn:
                                self._undo.append((m, attr, fn))
                                setattr(m, attr, wrapped)

    def uninstall(self) -> None:
        for m, attr, fn in reversed(self._undo):
            setattr(m, attr, fn)
        self._undo.clear()


def make_progress_listener(events: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            events.append({
                "run": str(p.runId),
                "batch": p.batchId,
                "duration": dict(p.durationMs),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Progress()


def streaming_metrics(events: list) -> dict[str, float]:
    batches = {}
    last_state: dict[str, int] = {}
    for e in events:
        batches[(e["run"], e["batch"])] = e["duration"]
        last_state[e["run"]] = e["state_rows"]
    trig = [d.get("triggerExecution", 0) for d in batches.values()]
    add = [d.get("addBatch", 0) for d in batches.values()]
    return {
        "streaming.batches": len(batches),
        "streaming.batch_p50_ms": statistics.median(trig) if trig else 0.0,
        "streaming.add_batch_ms": float(sum(add)),
        "streaming.trigger_overhead_ms": float(sum(trig) - sum(add)),
        "streaming.state_rows": sum(last_state.values()),
    }


class SparkWindow:
    """Status-store deltas over job/stage id windows."""

    FIELDS = {
        "spark.task_run_s": ("executorRunTime", 1e-3),
        "spark.task_cpu_s": ("executorCpuTime", 1e-9),
        "spark.input_mb": ("inputBytes", 2**-20),
        "spark.shuffle_write_mb": ("shuffleWriteBytes", 2**-20),
        "spark.shuffle_read_mb": ("shuffleReadBytes", 2**-20),
        "spark.output_mb": ("outputBytes", 2**-20),
    }

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._dag = self._sc.dagScheduler()
        self._store = self._sc.statusStore()
        self._mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory

    def next_job_id(self) -> int:
        return self._dag.nextJobId()

    def mark(self) -> tuple[int, int, float]:
        return self._dag.nextJobId(), self._dag.nextStageId(), self.gc_s()

    def gc_s(self) -> float:
        return sum(g.getCollectionTime() for g in self._mx.getGarbageCollectorMXBeans()) / 1e3

    def heap_committed_mb(self) -> float:
        return self._mx.getMemoryMXBean().getHeapMemoryUsage().getCommitted() / 2**20

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def succeeded_jobs(self, lo: int, hi: int) -> int:
        """Jobs with ids in [lo, hi) that succeeded. AQE may cancel a stage
        it re-planned away, and whether that stage's job was submitted
        first depends on timing; counting finished work keeps the count
        exact."""
        self.drain()
        return sum(
            1 for j in range(lo, hi)
            if self._store.job(j).status().toString() == "SUCCEEDED"
        )

    def delta(self, mark) -> dict[str, float]:
        """Counters of the jobs and stages submitted since ``mark``:
        counts cover completed work; times and bytes cover every stage
        that ran."""
        from py4j.protocol import Py4JJavaError

        jobs0, stages0, gc0 = mark
        jobs1, stages1 = self._dag.nextJobId(), self._dag.nextStageId()
        out = defaultdict(float)
        out["spark.jobs"] = self.succeeded_jobs(jobs0, jobs1)
        for sid in range(stages0, stages1):
            try:
                sd = self._store.stageAttempt(sid, 0, False, None, False, None)._1()
            except Py4JJavaError:  # stage created but never submitted: no status entry
                continue
            status = sd.status().toString()
            if status == "SKIPPED":
                continue
            if status == "COMPLETE":
                out["spark.stages"] += 1
                out["spark.tasks"] += sd.numCompleteTasks()
            for key, (getter, scale) in self.FIELDS.items():
                out[key] += getattr(sd, getter)() * scale
            out["spark.spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) * 2**-20
        out["spark.gc_s"] = self.gc_s() - gc0
        return dict(out)


class Tracer:
    """Context of a traced pass: layer wrappers installed, progress
    listener registered, status-store window ready."""

    def __init__(self, spark):
        self.window = SparkWindow(spark)
        self.layers = Layers(self.window.next_job_id)
        self.events: list = []
        self._listener = make_progress_listener(self.events)
        self._spark = spark

    def __enter__(self) -> "Tracer":
        self.layers.install()
        self._spark.streams.addListener(self._listener)
        return self

    def __exit__(self, *exc) -> None:
        self.window.drain()
        self._spark.streams.removeListener(self._listener)
        self.layers.uninstall()
