"""Queries half of the ``read_mix`` workload: headline registry entries.

``ENTRIES`` is one entry per family of ``bench.HEADLINE`` (TPC-H
aggregate, TPC-H join, as-of join, window, dedup, similarity search,
digest, corpus pruning); every name is checked against ``HEADLINE`` at
import, so a renamed entry fails loudly instead of drifting.  Set-up
writes a seeded fixture (``datagen``) and warms the session with the
same entries over a second, smaller fixture made from another seed.
Spark's cache is cleared before each entry, outside the timed region, as
``bench.py`` does, so no entry reads what an earlier one (or the
warm-up) persisted.  An entry's latency covers the registry function
(``spec.fn``), physical planning (forced before the action) and
``toPandas``.  Results are compared with the DuckDB oracle SQL after
the timed loop.
"""

from __future__ import annotations

import collections
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

from basin_cli_spark.oracle import compare, duckdb_connect
from basin_cli_spark.queries import load_all
from bench import HEADLINE
from core import Checked
from datagen import generate
from tracing import jobs_and_tasks, plan_metrics, wait_listener_bus

# Entries are bound by fixed per-query cost at both sizes; the small
# fixtures keep generation and the oracle checks short.
SCALE = 0.002
WARM_SCALE = 0.001
ENTRIES = (
    "q1_pricing_summary", "q5_local_supplier_volume", "q_join_asof",
    "q_window_running", "q_dedup_minhash", "q_similarity_ann_ivf",
    "q_muhash_digest", "q_corpus_lm_prune",
)
_missing = set(ENTRIES) - set(HEADLINE)
if _missing:
    raise ImportError(f"not in bench.HEADLINE: {sorted(_missing)}")


class _Collected:
    """What ``oracle.compare`` reads from a Spark result, kept from the
    timed run so the check does not execute the query again."""

    def __init__(self, schema, pdf) -> None:
        self.schema = schema
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


class QuerySet:
    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.registry = load_all()
        self.plan_totals: collections.Counter = collections.Counter()
        self.tasks = 0
        self._runs = 0

    def generate(self) -> None:
        self.data_dir = os.path.join(self.work, "data")
        generate(self.data_dir, self.seed, SCALE)
        self.warm_dir = os.path.join(self.work, "data-warm")
        generate(self.warm_dir, self.seed + 1, WARM_SCALE)

    def warm_up(self) -> None:
        """Every entry once over the warm-up fixture, so codegen and the JIT
        are warm.  It runs on one thread per core: the cost is mostly
        compilation in the JVM, which the timed loop's single client would
        otherwise pay serially.  The registry is not meant to run entries
        concurrently, so an entry that fails here is warmed again alone;
        one that fails alone too is left to fail, and be counted, in the
        timed loop."""
        def once(name):
            self.registry[name].fn(self.spark, self.warm_dir).toPandas()

        with ThreadPoolExecutor(max_workers=len(os.sched_getaffinity(0))) as pool:
            futures = {name: pool.submit(once, name) for name in ENTRIES}
        for name, future in futures.items():
            if future.exception() is not None:
                print(f"warm-up: {name} failed alongside others: {future.exception()!r}",
                      file=sys.stderr)
                try:
                    once(name)
                except Exception as e:  # counted when the timed loop runs it
                    print(f"warm-up: {name} failed: {e!r}", file=sys.stderr)
        self.spark.catalog.clearCache()

    def run(self, name: str):
        """Run one entry; return its latency and the collected result."""
        tr = self.tracer
        self._runs += 1
        group = f"q{self._runs}-{name}"
        self.spark.catalog.clearCache()
        if tr.enabled:  # tasks are counted per entry through its job group
            self.spark.sparkContext.setJobGroup(group, name)
        with tr.span("query.entry"):
            start = time.perf_counter()
            with tr.span("query.build"):
                df = self.registry[name].fn(self.spark, self.data_dir)
            with tr.span("query.plan"):
                df._jdf.queryExecution().executedPlan()
            with tr.span("query.exec"):
                pdf = df.toPandas()
            latency = time.perf_counter() - start
        if tr.enabled:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            self.plan_totals.update(plan_metrics(df))
            wait_listener_bus(self.spark)
            self.tasks += jobs_and_tasks(self.spark, group)[1]
        return latency, _Collected(df.schema, pdf)

    def check(self, results: list[tuple[str, _Collected]]) -> Checked:
        """``oracle.compare`` of each ``(name, result)`` with its DuckDB SQL."""
        out = Checked()
        con = duckdb_connect(self.data_dir)
        for name, result in results:
            sql = self.registry[name].oracle
            if not sql:
                continue
            try:
                ok, msg = compare(result, con.execute(sql).arrow())
            except Exception as e:  # a check that raises is a failed check
                ok, msg = False, repr(e)
            out.expect(ok, f"{name}: {msg}")
        con.close()
        return out

    def layers(self, tracer, passes: int) -> dict:
        """Per-layer totals of the traced loop, per pass."""
        per_pass = {
            "query.build_s": tracer.total_s("query.build"),
            "query.plan_s": tracer.total_s("query.plan"),
            "query.exec_s": tracer.total_s("query.exec"),
            "query.shuffle_bytes": self.plan_totals["query.shuffle_bytes"],
            "query.spill_bytes": self.plan_totals["query.spill_bytes"],
            "query.python_rows": self.plan_totals["query.python_rows"],
            "query.tasks": self.tasks,
        }
        return {k: v / passes for k, v in per_pass.items()}
