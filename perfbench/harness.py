"""Shared pieces of the benchmark: session set-up timing, peak memory,
spans, status-store deltas, streaming progress capture and statistics.

Everything here observes the program from outside: it calls the
package's public functions and reads the counters Spark exposes to any
caller (status store, streaming progress, checkpoint files, /proc).
"""

from __future__ import annotations

import json
import os
import statistics
from statistics import median
import threading
import time
from contextlib import contextmanager


def percentile(values: list[float], p: int) -> float:
    """The ``p``-th percentile, interpolated between the samples."""
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


class Tracer:
    """In-memory spans around calls into the program's layers.

    Disabled tracers record nothing. Spans nest per thread (foreachBatch
    callbacks run on their own thread), carry the id of the span that
    caused them, and are written once, at exit, by :meth:`dump`.
    ``overhead_s`` is the time spent inside the tracer's own bookkeeping
    (span recording, listener callbacks, counter harvests), so a traced
    run can report its cost against the time it measured. It is a lower
    bound: it does not see the tracer slowing the program itself, such as
    listener events queued on the JVM listener bus.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._next_id = 0
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter()
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        rec = {
            "id": sid,
            "parent": stack[-1] if stack else None,
            "name": name,
            "thread": threading.current_thread().name,
            **attrs,
        }
        stack.append(sid)
        b1 = time.perf_counter()
        rec["start"] = b1
        try:
            yield rec
        finally:
            e0 = time.perf_counter()
            rec["end"] = e0
            stack.pop()
            with self._lock:
                self.spans.append(rec)
                self.overhead_s += (b1 - b0) + (time.perf_counter() - e0)

    @contextmanager
    def bookkeeping(self):
        """Account the enclosed block as tracing overhead."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            with self._lock:
                self.overhead_s += time.perf_counter() - t0

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str, extra: dict) -> None:
        from scripts.provenance import stamp

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                {"provenance": stamp(), **extra, "spans": self.spans}, fh
            )


def _warm_up(spark) -> None:
    """Fixed warm-up: one small shuffle aggregate (JIT, codegen, the
    scheduler). Python workers are left to the workload's first use."""
    spark.range(0, 20000, numPartitions=4).selectExpr(
        "id % 13 AS k", "id AS v"
    ).groupBy("k").sum("v").collect()


def build_session(tracer: Tracer):
    """Start the session the way a caller does, in a fresh JVM, and time
    ``get_spark`` (JVM launch, first context) and the warm-up."""
    from big_data_streaming_spark.session import get_spark

    with tracer.span("session.get_spark"):
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        t1 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    with tracer.span("session.warmup"):
        t2 = time.perf_counter()
        _warm_up(spark)
        t3 = time.perf_counter()
    return spark, {"setup_s": t3 - t0, "build_s": t1 - t0, "warmup_s": t3 - t2}


def run_context(spark) -> dict:
    sc = spark.sparkContext
    return {
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "spark.sql.shuffle.partitions": spark.conf.get(
            "spark.sql.shuffle.partitions"
        ),
    }


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    """Driver Python VmHWM plus JVM VmHWM, in MiB."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0


def retained_mb(spark) -> float:
    """JVM heap still in use after a full collection, in MiB: what the
    session keeps alive once the workload is done (cached blocks, state,
    plan and status history)."""
    import gc

    sc = spark.sparkContext
    jvm = sc._jvm
    # Python-side garbage can pin JVM objects through the gateway, and the
    # JVM frees shuffles, broadcasts and cached blocks asynchronously once
    # their handles are collected: let both settle before reading.
    for _ in range(3):
        gc.collect()
        jvm.java.lang.System.gc()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        time.sleep(0.3)
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return heap.getHeapMemoryUsage().getUsed() / 2**20


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - gateway already gone; proceed to wait
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - escalate to a kill, then wait
            proc.kill()
            proc.wait(timeout=30)


class EngineCounters:
    """Status-store deltas: jobs and stage metrics of every job and stage
    that started after the previous :meth:`take`."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._jvm, self._gw = sc._jvm, sc._gateway
        self._last_job = -1
        self._last_stage = -1
        self.take()

    def _settle(self) -> None:
        # The status store is fed by the listener bus; drain it first.
        self._sc.listenerBus().waitUntilEmpty()

    def take(self) -> dict:
        self._settle()
        jobs = self._store.jobsList(None)
        n_jobs, max_job = 0, self._last_job
        it = jobs.iterator()
        while it.hasNext():
            jid = it.next().jobId()
            if jid > self._last_job:
                n_jobs += 1
                max_job = max(max_job, jid)
        stages = self._store.stageList(
            self._jvm.java.util.ArrayList(),
            False,
            False,
            self._gw.new_array(self._jvm.double, 0),
            self._jvm.java.util.ArrayList(),
        )
        tot = {
            "jobs": n_jobs,
            "run_ms": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
        }
        max_stage = self._last_stage
        it = stages.iterator()
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            if sid <= self._last_stage:
                continue
            max_stage = max(max_stage, sid)
            tot["run_ms"] += s.executorRunTime()
            tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
            tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        self._last_job, self._last_stage = max_job, max_stage
        return tot


def progress_from_json(p: dict) -> dict:
    """The fields of one StreamingQueryProgress the benchmark uses."""
    ops = p.get("stateOperators") or []
    return {
        "batchId": p["batchId"],
        "numInputRows": p["numInputRows"],
        "timestamp": p["timestamp"],
        "durationMs": dict(p.get("durationMs") or {}),
        "state_rows_total": sum(o["numRowsTotal"] for o in ops),
        "state_memory_bytes": sum(o["memoryUsedBytes"] for o in ops),
        "state_commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
    }


def make_progress_listener(tracer: Tracer):
    """A ``streaming.metrics.ProgressCollector`` that also keeps the
    state-operator counters, keyed by query id; its callback time counts
    as tracing overhead."""
    from big_data_streaming_spark.streaming.metrics import ProgressCollector

    class _Collector(ProgressCollector):
        def __init__(self) -> None:
            super().__init__()
            self.progress: dict[str, list[dict]] = {}

        def onQueryProgress(self, event) -> None:  # noqa: N802
            with tracer.bookkeeping():
                super().onQueryProgress(event)
                p = json.loads(event.progress.json)
                self.progress.setdefault(p["id"], []).append(
                    progress_from_json(p)
                )

    return _Collector()


PHASES = (
    "latestOffset",
    "getBatch",
    "queryPlanning",
    "addBatch",
    "walCommit",
    "commitOffsets",
)


def phase_medians(prefix: str, batches: list[dict]) -> dict[str, float]:
    return {
        f"{prefix}.{ph}_ms": median(
            [float(b["durationMs"].get(ph, 0)) for b in batches]
        )
        for ph in PHASES
    }


def commit_time(checkpoint: str, batch_id: int) -> float:
    """Wall-clock time the engine committed ``batch_id`` (the mtime of its
    entry in the checkpoint's commit log)."""
    return os.stat(os.path.join(checkpoint, "commits", str(batch_id))).st_mtime
