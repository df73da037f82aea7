"""Vault half of the ``read_mix`` workload: listing, filtering and
retrieving a published vault.

Set-up publishes a vault through the same stream and sink as the
``publish`` workload (2 WAL files of 100 records over three tables, so 6
signed window files and manifest rows).  Reads go through the package's
public read surface, with parameters the seed picks:
``WindowedVaultSink.events``, ``list_events`` with latest/before/after/at
filters, ``list_vaults``, and ``retrieve`` by cid with the window's rows
read back.  Every read re-reads the manifest, as each CLI call does.
Results are checked against the manifest and the generator after the
timed loop.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import time

from pyspark.sql import functions as F

from basin_cli_spark.operators.events import list_events, list_vaults, retrieve
from basin_cli_spark.streaming.window_sink import WindowedVaultSink
from core import Checked
from publish import check_drains, drain, make_wal
from walgen import canon_row

N_FILES, N_RECORDS = 2, 100
WARM_UP_ROUNDS = 1
KINDS = ("events", "latest", "before", "after", "at", "vaults", "retrieve")
SPAN = {
    "events": "events.manifest_scan", "retrieve": "events.retrieve",
    "latest": "events.list", "before": "events.list", "after": "events.list",
    "at": "events.list", "vaults": "events.list",
}


def _ts_text(epoch_s: int) -> str:
    return dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")


class VaultReads:
    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.seed = seed
        self.rng = random.Random(seed)

    def generate(self) -> None:
        self.wal_dir, _, _, self.expected = make_wal(
            self.work, "wal", self.seed, N_FILES, N_RECORDS)

    def warm_up(self) -> None:
        """Publish the vault, then run rounds of reads untimed."""
        out_dir = os.path.join(self.work, "vault")
        published = drain(self.spark, self.wal_dir, out_dir, self.expected, self.tracer)
        vault = check_drains([published])
        if vault.failed:
            raise RuntimeError(f"vault set-up failed its checks: {vault.problems}")
        self.rows_by_cid = vault.rows_by_cid
        self.events = [
            (r["timestamp"], r["cid"], r["table"])
            for r in published.manifest() if r["table"] is not None
        ]
        self.sink = WindowedVaultSink(out_dir, {})
        for _ in range(WARM_UP_ROUNDS):
            for kind in KINDS:
                self._read(kind, self._params(kind))

    def _params(self, kind: str):
        if kind == "latest":
            return self.rng.randint(1, 10)
        if kind in ("before", "after", "at"):
            return self.rng.choice(self.events)[0]
        if kind == "retrieve":
            return self.rng.choice(self.events)[1]
        return None

    def _events_ts(self):
        return self.sink.events(self.spark).withColumn(
            "ts", F.timestamp_seconds("timestamp").cast("timestamp_ntz"))

    def _read(self, kind: str, param):
        """One read through the public surface; returns what it collected."""
        spark = self.spark
        if kind == "events":
            return self.sink.events(spark).select("cid").collect()
        if kind == "vaults":
            return list_vaults(self.sink.events(spark), "table").collect()
        if kind == "retrieve":
            return retrieve(spark, self.sink.events(spark), param).collect()
        filters = {"latest": param} if kind == "latest" else {kind: _ts_text(param)}
        return list_events(self._events_ts(), ts_col="ts", key_col="cid",
                           **filters).select("cid").collect()

    def run(self, kind: str):
        """One read of ``kind`` with seeded parameters; return its latency,
        the parameter and what it collected."""
        param = self._params(kind)
        with self.tracer.span(SPAN[kind]):
            t0 = time.perf_counter()
            got = self._read(kind, param)
            latency = time.perf_counter() - t0
        if kind == "retrieve":
            self.tracer.count("events.rows_read", len(got))
        return latency, param, got

    def _expected(self, kind: str, param):
        newest_first = sorted(self.events, key=lambda e: (e[0], e[1]), reverse=True)
        if kind == "events":
            return sorted(e[1] for e in self.events)
        if kind == "vaults":
            counts = {}
            for _, _, table in self.events:
                counts[table] = counts.get(table, 0) + 1
            return sorted(counts.items())
        if kind == "latest":
            return [e[1] for e in newest_first[:param]]
        keep = {"before": lambda t: t <= param, "after": lambda t: t >= param,
                "at": lambda t: t == param}[kind]
        return [e[1] for e in newest_first if keep(e[0])][:10]

    def check(self, results: list[tuple[str, object, list]]) -> Checked:
        """Each ``(kind, param, rows)`` against the manifest and generator."""
        out = Checked()
        for kind, param, got in results:
            if kind == "retrieve":
                rows = sorted((canon_row(tuple(r)) for r in got), key=lambda r: r[0])
                want = sorted(self.rows_by_cid[param], key=lambda r: r[0])
            elif kind == "events":
                rows, want = sorted(r.cid for r in got), self._expected(kind, param)
            elif kind == "vaults":
                rows = sorted((r["table"], r["n_events"]) for r in got)
                want = self._expected(kind, param)
            else:
                rows, want = [r.cid for r in got], self._expected(kind, param)
            out.expect(rows == want, f"{kind}({param}): result differs from the manifest")
        return out

    def layers(self, tracer, passes: int) -> dict:
        """Per-layer totals of the traced loop, per pass."""
        return {
            "events.manifest_scan_s": tracer.total_s("events.manifest_scan") / passes,
            "events.list_s": tracer.total_s("events.list") / passes,
            "events.resolve_s": tracer.total_s("events.resolve") / passes,
            "events.retrieve_s": tracer.total_s("events.retrieve") / passes,
            "events.rows_read": tracer.counts["events.rows_read"] / passes,
        }
