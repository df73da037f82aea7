"""Tracing for the per-layer run: spans, counters and the Spark-side probes.

Spans are recorded from the benchmark's own files, around calls into the
package's layers.  :func:`install` wraps the public functions those layers
call (keccak at both of its import sites, ``sign_file``, the sink's
``process_batch`` and manifest methods, and the manifest resolver behind
``retrieve``) and returns an undo function; it is installed only in the
traced run, so the untraced run measures the package as shipped.

A span is ``(id, name, start, end, parent, run_id)``.  Parents come from a
per-thread stack, so a ``foreachBatch`` call on Spark's callback thread
nests its keccak and signing spans under its own ``sink.process_batch``.
Spans stay in memory until :meth:`Tracer.write`.
"""

from __future__ import annotations

import collections
import contextlib
import itertools
import json
import os
import threading
import time
from collections.abc import Callable


class Tracer:
    """Span and counter store for one run; a disabled tracer records
    nothing, so workloads can call it unconditionally."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: collections.Counter = collections.Counter()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append({
                    "id": sid, "name": name, "start": start, "end": end,
                    "parent": parent, "run_id": self.run_id,
                })

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += n

    def layer_table(self) -> dict[str, dict]:
        """Per span name: calls, total seconds and self seconds (total
        minus the time its direct child spans cover)."""
        child_time: collections.Counter = collections.Counter()
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        table: dict[str, dict] = {}
        for s in self.spans:
            row = table.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            dur = s["end"] - s["start"]
            row["calls"] += 1
            row["total_s"] += dur
            row["self_s"] += dur - child_time[s["id"]]
        return table

    def total_s(self, name: str) -> float:
        return self.layer_table().get(name, {}).get("total_s", 0.0)

    def self_s(self, name: str) -> float:
        return self.layer_table().get(name, {}).get("self_s", 0.0)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _patch(undo: list, owner, attr: str, wrapper) -> None:
    orig = getattr(owner, attr)
    setattr(owner, attr, wrapper(orig))
    undo.append((owner, attr, orig))


def install(tracer: Tracer) -> Callable[[], None]:
    """Wrap the layer entry points the workloads reach; return an undo."""
    from basin_cli_spark.functions import signing
    from basin_cli_spark.operators import events
    from basin_cli_spark.streaming import window_sink

    undo: list = []

    def hashed(site: str):
        def wrap(orig):
            def keccak256_file(path, *a, **kw):
                with tracer.span("hashing.keccak256_file"):
                    out = orig(path, *a, **kw)
                tracer.count(f"hashing.bytes.{site}", os.path.getsize(path))
                return out
            return keccak256_file
        return wrap

    def timed(name: str, counter: str | None = None):
        def wrap(orig):
            def call(*a, **kw):
                with tracer.span(name):
                    out = orig(*a, **kw)
                if counter:
                    tracer.count(counter)
                return out
            return call
        return wrap

    def resolver(orig):
        def manifest_resolver(ev):
            resolve = orig(ev)

            def timed_resolve(cid):
                with tracer.span("events.resolve"):
                    return resolve(cid)
            return timed_resolve
        return manifest_resolver

    _patch(undo, window_sink, "keccak256_file", hashed("sink"))
    _patch(undo, signing, "keccak256_file", hashed("signing"))
    _patch(undo, window_sink, "sign_file",
           timed("signing.sign_file", "signing.signatures"))
    sink_cls = window_sink.WindowedVaultSink
    _patch(undo, sink_cls, "process_batch", timed("sink.process_batch"))
    _patch(undo, sink_cls, "_published_batches", timed("sink.manifest"))
    _patch(undo, sink_cls, "_append_manifest", timed("sink.manifest"))
    _patch(undo, events, "manifest_resolver", resolver)

    def uninstall() -> None:
        for owner, attr, orig in reversed(undo):
            setattr(owner, attr, orig)

    return uninstall


class ProgressListener:
    """Records each micro-batch's ``durationMs`` through a Python
    ``StreamingQueryListener`` (the monitoring API of the Structured
    Streaming paper).  Events arrive on Spark's listener bus, so call
    :func:`wait_listener_bus` before reading ``records``."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        records = self.records = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                records.append(dict(event.progress.durationMs))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)


def wait_listener_bus(spark) -> None:
    """Block until Spark's listener bus has delivered every event, so the
    status tracker reflects the jobs that have just run."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)


def jobs_and_tasks(spark, group: str) -> tuple[int, int]:
    """Jobs in a job group and the tasks of their stages."""
    tracker = spark.sparkContext._jsc.sc().statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    tasks = 0
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info.isEmpty():
            continue
        for sid in info.get().stageIds():
            stage = tracker.getStageInfo(sid)
            if not stage.isEmpty():
                tasks += stage.get().numTasks()
    return len(job_ids), tasks


def gc_seconds(spark) -> float:
    """Total collection time of the Spark JVM's garbage collectors."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    beans = mf.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0


PLAN_METRICS = {
    "shuffleBytesWritten": "query.shuffle_bytes",
    "spillSize": "query.spill_bytes",
    "pythonNumRowsReceived": "query.python_rows",
}


def plan_metrics(df) -> collections.Counter:
    """Sum selected SQLMetrics over the executed (final adaptive) plan,
    stepping into query stages; needs no Spark UI."""
    totals: collections.Counter = collections.Counter()
    stack = [df._jdf.queryExecution().executedPlan()]
    seen = set()
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):  # shuffle, broadcast, cache, result
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            stack.append(node.child())
            continue
        ident = node.id()
        if ident in seen:
            continue
        seen.add(ident)
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key = PLAN_METRICS.get(kv._1())
            if key:
                totals[key] += kv._2().value()
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return totals
