"""Per-layer tracing, switched on by ``--trace 1``.

Nothing in the program is edited: the tracer wraps public functions of
its modules from here (and restores them), reads Spark's status store
for jobs, stages, tasks, shuffle, spill and executor time per phase,
and folds Structured Streaming's progress events into per-phase
duration sums.
"""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

from env import dir_bytes, tree_cpu_s

SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "executor_run_s",
)
# per engine phase: its wall and CPU seconds, then Spark's counters for it
PHASE_COUNTERS = ("s", "cpu_s", *SPARK_COUNTERS)
ENGINE_PHASES = ("full_sync", "drain", "restart")
STREAM_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "triggerExecution")
LAYER = (
    "snapshot.s", "snapshot.jobs",
    "state_init.s", "merge.calls", "merge.s", "merge.max_s", "collapse.calls",
    "swap.calls", "swap.s", "state.bytes_written",
    "meta.upserts", "meta.reads", "meta.s",
    "demux.microbatches", "demux.input_rows", "demux.tables_touched",
    *(f"stream.{p}_ms" for p in STREAM_PHASES),
    "binlog.files", "binlog.events", "binlog.bytes", "binlog.decode_s",
)
QUERY_COUNTERS = ("build_s", "build_jobs", "exec_s", "exec_jobs", "cpu_s", "shuffle_bytes", "stages", "tasks")


def per_layer_names(queries: list[str]) -> list[str]:
    names = list(LAYER)
    names += [f"{p}.{c}" for p in ENGINE_PHASES for c in PHASE_COUNTERS]
    names += [f"q.{q}.{c}" for q in queries for c in QUERY_COUNTERS]
    return names


def unit_of(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "bytes"
    return "count"


class ProgressListener(StreamingQueryListener):
    """Collects streaming progress per query name. Also used untraced:
    the restart check needs the rows the resumed stream read."""

    def __init__(self):
        self.lock = threading.Lock()
        self.progress: list[dict] = []
        self.started = 0
        self.terminated = 0

    def onQueryStarted(self, event):
        with self.lock:
            self.started += 1

    def onQueryProgress(self, event):
        p = event.progress
        with self.lock:
            self.progress.append(
                {"name": p.name, "rows": p.numInputRows, "durations": dict(p.durationMs)}
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.lock:
            self.terminated += 1

    def settle(self, timeout: float = 15.0) -> None:
        """Wait until every started query's terminated event arrived
        (the listener bus delivers asynchronously)."""
        end = time.monotonic() + timeout
        while time.monotonic() < end:
            with self.lock:
                if self.terminated >= self.started:
                    return
            time.sleep(0.02)

    def mark(self) -> int:
        with self.lock:
            return len(self.progress)

    def since(self, mark: int) -> list[dict]:
        with self.lock:
            return list(self.progress[mark:])


class SparkStore:
    """Reads jobs and stages from the SparkContext's status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self.sc = sc
        self.kv = sc._jsc.sc().statusStore().store()
        self.stage_cls = jvm.java.lang.Class.forName("org.apache.spark.status.StageDataWrapper")
        self.job_cls = jvm.java.lang.Class.forName("org.apache.spark.status.JobDataWrapper")

    def mark(self) -> tuple[int, int]:
        return self._max_id(self.job_cls, "jobId"), self._max_id(self.stage_cls, "stageId")

    def _max_id(self, cls, attr: str) -> int:
        it = self.kv.view(cls).reverse().max(1).iterator()
        return getattr(it.next().info(), attr)() if it.hasNext() else -1

    def since(self, mark: tuple[int, int]) -> dict:
        """Counters of the jobs and stages started after ``mark``."""
        self._settle()
        job0, stage0 = mark
        out = dict.fromkeys(SPARK_COUNTERS, 0)
        it = self.kv.view(self.job_cls).reverse().iterator()
        while it.hasNext():
            if it.next().info().jobId() <= job0:
                break
            out["jobs"] += 1
        it = self.kv.view(self.stage_cls).reverse().iterator()
        while it.hasNext():
            s = it.next().info()
            if s.stageId() <= stage0:
                break
            if str(s.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["executor_run_s"] += s.executorRunTime() / 1000.0
        return out

    def _settle(self, timeout: float = 5.0) -> None:
        tracker = self.sc.statusTracker()
        end = time.monotonic() + timeout
        while time.monotonic() < end and (tracker.getActiveStageIds() or tracker.getActiveJobsIds()):
            time.sleep(0.02)


class Tracer:
    """Wraps the program's layer entry points and accumulates their
    counters; ``close()`` puts the originals back."""

    def __init__(self, spark, listener: ProgressListener):
        self.m: dict[str, float] = defaultdict(float)
        self.listener = listener
        self.store = SparkStore(spark)
        self._undo: list = []
        self._tables: set = set()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._install()

    # -- wrapping --------------------------------------------------------------

    def _wrap(self, owner, attr: str, after) -> None:
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            result = orig(*args, **kwargs)
            with self._lock:
                after(time.perf_counter() - t0, args, kwargs, result)
            return result

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def _wrap_meta(self, owner, attr: str, counter: str) -> None:
        """Meta store calls nest (upsert reads the store first): only
        the outermost call is counted and timed."""
        orig = getattr(owner, attr)
        local = self._local

        def wrapper(*args, **kwargs):
            if getattr(local, "depth", 0):
                return orig(*args, **kwargs)
            local.depth = 1
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                local.depth = 0
                with self._lock:
                    self.m[counter] += 1
                    self.m["meta.s"] += time.perf_counter() - t0

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def _install(self) -> None:
        from go_cdc_spark import app, storeio
        from go_cdc_spark.operators import cdc
        from go_cdc_spark.sources import binlog, meta
        from go_cdc_spark.streaming import pipeline

        m = self.m

        def on_init(dt, a, kw, r):
            m["state_init.s"] += dt

        def on_merge(dt, a, kw, r):
            m["merge.calls"] += 1
            m["merge.s"] += dt
            m["merge.max_s"] = max(m["merge.max_s"], dt)
            self._tables.add(a[0].state_path)

        def on_collapse(dt, a, kw, r):
            m["collapse.calls"] += 1

        def on_swap(dt, a, kw, r):
            m["swap.calls"] += 1
            m["swap.s"] += dt
            m["state.bytes_written"] += dir_bytes(a[1] if len(a) > 1 else kw["path"])

        def on_binlog(dt, a, kw, r):
            m["binlog.files"] += 1
            m["binlog.events"] += r
            m["binlog.bytes"] += os.path.getsize(a[0])
            m["binlog.decode_s"] += dt

        snapshot_all = app.snapshot_all

        def counted_snapshot(*args, **kwargs):
            mark = self.store.mark()
            t0 = time.perf_counter()
            try:
                return snapshot_all(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                jobs = self.store.since(mark)["jobs"]
                with self._lock:
                    m["snapshot.s"] += dt
                    m["snapshot.jobs"] += jobs

        app.snapshot_all = counted_snapshot
        self._undo.append((app, "snapshot_all", snapshot_all))
        self._wrap(pipeline.StreamingMaterializer, "__init__", on_init)
        self._wrap(pipeline.StreamingMaterializer, "process_batch", on_merge)
        self._wrap(pipeline, "cdc_collapse", on_collapse)
        self._wrap(cdc, "cdc_collapse", on_collapse)
        self._wrap(storeio, "swap_in", on_swap)
        self._wrap(binlog, "binlog_to_changelog", on_binlog)
        self._wrap_meta(meta.CheckpointStore, "upsert", "meta.upserts")
        self._wrap_meta(meta.CheckpointStore, "get_pos", "meta.reads")
        self._wrap_meta(meta.CheckpointStore, "all", "meta.reads")

    def close(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo = []

    # -- phases ------------------------------------------------------------------

    def begin(self):
        return self.store.mark(), self.listener.mark(), time.perf_counter(), tree_cpu_s()

    def end(self, phase: str, token) -> None:
        """Add the wall and CPU seconds, Spark counters and streaming
        progress since ``begin`` to ``phase``'s totals."""
        store_mark, prog_mark, t0, cpu0 = token
        self.m[f"{phase}.s"] += time.perf_counter() - t0
        self.m[f"{phase}.cpu_s"] += tree_cpu_s() - cpu0
        self.listener.settle()
        for k, v in self.store.since(store_mark).items():
            self.m[f"{phase}.{k}"] += v
        for p in self.listener.since(prog_mark):
            self.m["demux.microbatches"] += 1
            self.m["demux.input_rows"] += p["rows"]
            for k in STREAM_PHASES:
                self.m[f"stream.{k}_ms"] += p["durations"].get(k, 0)

    def query(self, name: str, build_token, exec_token, build, action) -> None:
        """Counters of one query; ``build`` and ``action`` are its timed
        spans (``workloads.Span``)."""
        b = self.store.since(build_token[0])
        e = self.store.since(exec_token[0])
        # the build counters are those up to the start of the action
        b = {k: b[k] - e[k] for k in b}
        q = f"q.{name}"
        self.m[f"{q}.build_s"] += build.s
        self.m[f"{q}.exec_s"] += action.s
        self.m[f"{q}.cpu_s"] += build.cpu_s + action.cpu_s
        self.m[f"{q}.build_jobs"] += b["jobs"]
        self.m[f"{q}.exec_jobs"] += e["jobs"]
        self.m[f"{q}.shuffle_bytes"] += b["shuffle_write_bytes"] + e["shuffle_write_bytes"]
        self.m[f"{q}.stages"] += b["stages"] + e["stages"]
        self.m[f"{q}.tasks"] += b["tasks"] + e["tasks"]

    def metrics(self, names: list[str]) -> dict:
        self.m["demux.tables_touched"] = len(self._tables)
        return {n: {"value": round(float(self.m.get(n, 0.0)), 6), "unit": unit_of(n)} for n in names}
