"""Traced runs: spans around calls into each layer, plus Spark's counters.

Spans are kept in memory (name, start, end, parent, operation id) and
written out with the counters when the run ends. They are recorded from
the benchmark's side only: around the engine calls the workloads make,
and around storage-layer functions by replacing the module attributes the
engine calls through. Spark's own counters come from the status store
(jobs, stages, task metrics, stage operator graphs), the query
execution's phase tracker, the executed plan, and a
``StreamingQueryListener`` for per-epoch progress. All of them work with
``spark.ui.enabled=false``.

An untraced run uses ``NullTracer``: no wrappers, no listener, no
counters; its spans cost one no-op context manager per layer call.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time
from collections import defaultdict

_PLAN_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s+)?([A-Za-z]+)")


class NullTracer:
    enabled = False

    def span(self, name: str):
        return contextlib.nullcontext()

    def begin_op(self, op_id: int) -> None:
        pass

    def end_op(self, df=None) -> dict:
        return {}

    def close(self) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        gw = self.sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._graph = gw.jvm.org.apache.spark.ui.scope.RDDOperationGraph
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []
        self.progress: list[dict] = []
        self.terminated = 0
        self.overhead_s = 0.0
        self._last_job = self._last_stage = -1
        self._listener = None
        self._sync_cursor()

    # -- spans --------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        with self._lock:
            rec = {
                "id": len(self.spans),
                "name": name,
                "op": self.op_id,
                # Spans opened on another thread (foreachBatch runs on a
                # py4j callback thread) hang under the op thread's
                # innermost open span, which is waiting on them.
                "parent": self._stack[-1] if self._stack else None,
                "start": time.perf_counter() - self.t0,
                "end": None,
            }
            self.spans.append(rec)
            on_main = threading.current_thread() is threading.main_thread()
            if on_main:
                self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            if on_main:
                with self._lock:
                    self._stack.pop()

    def wrap(self, module, attr: str, name) -> None:
        """Replace ``module.attr`` with a span-recording wrapper; ``name``
        is a string or a function of the call's arguments."""
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            with self.span(name(*args, **kwargs) if callable(name) else name):
                return orig(*args, **kwargs)

        setattr(module, attr, wrapper)
        self._restore.append((module, attr, orig))

    # -- streaming progress -------------------------------------------------

    def listen_streams(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                rec = json.loads(event.progress.json)
                rec["op"] = tracer.op_id
                tracer.progress.append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                tracer.terminated += 1

        self._listener = _Progress()
        self.spark.streams.addListener(self._listener)

    def wait_terminated(self, count: int, timeout_s: float = 10.0) -> None:
        """Progress events arrive asynchronously; the terminated event of a
        query comes after all of its progress events."""
        deadline = time.monotonic() + timeout_s
        while self.terminated < count and time.monotonic() < deadline:
            time.sleep(0.01)

    # -- per-operation counters ----------------------------------------------

    def _drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def _jobs_since(self, last: int) -> list:
        out, it = [], self.store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            if j.jobId() > last:
                out.append(j)
        return out

    def _sync_cursor(self) -> None:
        self._drain()
        jobs = self._jobs_since(self._last_job)
        if jobs:
            self._last_job = max(j.jobId() for j in jobs)
        it = self.store.stageList(None, False, False, self._no_quantiles, None).iterator()
        while it.hasNext():
            self._last_stage = max(self._last_stage, it.next().stageId())

    def begin_op(self, op_id: int) -> None:
        t = time.perf_counter()
        self.op_id = op_id
        self._sync_cursor()
        self._mark_job = self._last_job
        self.overhead_s += time.perf_counter() - t

    def jobs_since_mark(self) -> int:
        """Spark jobs started since the last ``begin_op``/``mark``."""
        t = time.perf_counter()
        self._drain()
        jobs = self._jobs_since(self._mark_job)
        if jobs:
            self._mark_job = max(j.jobId() for j in jobs)
        self.overhead_s += time.perf_counter() - t
        return len(jobs)

    def end_op(self, df=None) -> dict:
        """Counters for the operation since ``begin_op``: Spark jobs,
        stages, task metrics, Python-worker stage time, and, when the
        action's DataFrame is given, Catalyst phases and plan shape."""
        t = time.perf_counter()
        self._drain()
        jobs = self._jobs_since(self._last_job)
        rec = defaultdict(float)
        rec["jobs"] = len(jobs)
        it = self.store.stageList(None, False, False, self._no_quantiles, None).iterator()
        newest = self._last_stage
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            if sid <= self._last_stage:
                continue
            newest = max(newest, sid)
            if s.status().toString() == "SKIPPED":
                continue
            rec["stages"] += 1
            rec["tasks"] += s.numTasks()
            run_s = s.executorRunTime() / 1000.0
            rec["executor_run_s"] += run_s
            rec["executor_cpu_s"] += s.executorCpuTime() / 1e9
            rec["input_bytes"] += s.inputBytes()
            rec["shuffle_read_bytes"] += s.shuffleReadBytes()
            rec["shuffle_write_bytes"] += s.shuffleWriteBytes()
            rec["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            dot = self._graph.makeDotFile(self.store.operationGraphForStage(sid))
            if 'label="MapInPandas"' in dot:
                rec["py_worker_s"] += run_s
        if jobs:
            self._last_job = max(j.jobId() for j in jobs)
        self._last_stage = newest
        if df is not None:
            rec.update(query_shape(df))
        infos = self.jsc.getRDDStorageInfo()
        rec["persisted_rdds"] = self.sc._jsc.getPersistentRDDs().size()
        rec["cache_mem_bytes"] = sum(i.memSize() for i in infos)
        self.op_id = None
        self.overhead_s += time.perf_counter() - t
        return dict(rec)

    def close(self) -> None:
        for module, attr, orig in reversed(self._restore):
            setattr(module, attr, orig)
        self._restore.clear()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None


def query_shape(df) -> dict:
    """Catalyst phase times and node counts of the executed plan (the
    final adaptive plan when AQE re-planned)."""
    qe = df._jdf.queryExecution()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[f"{phase}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    plan = qe.executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    nodes = defaultdict(int)
    for line in plan.toString().splitlines():
        m = _PLAN_NODE.match(line)
        if m:
            nodes[m.group(1)] += 1
    out["exchanges"] = nodes["Exchange"] + nodes["BroadcastExchange"]
    out["smj"] = nodes["SortMergeJoin"]
    out["bhj"] = nodes["BroadcastHashJoin"]
    out["cached_scans"] = nodes["InMemoryTableScan"]
    return out


def write_artifact(path: str, payload: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(payload, fh, indent=1, default=str)
