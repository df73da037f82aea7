"""Publish workloads: wal2json files -> signed Parquet windows + manifest.

One client thread runs a closed loop of stream drains.  Each drain starts
``read_wal_stream(..., max_files_per_trigger=1)`` over the workload's WAL
directory, sends every micro-batch to ``WindowedVaultSink.process_batch``
through ``foreachBatch``, and waits for the stream to end; the next drain
starts only then, with fresh output and checkpoint directories.  So each
WAL file becomes one window (one micro-batch), and batch ``i`` of a drain
holds file ``i``.
"""

from __future__ import annotations

import collections
import json
import os
import time

import duckdb

from basin_cli_spark.functions.hashing import keccak256, keccak256_file
from basin_cli_spark.sources.cdc import read_wal_stream
from basin_cli_spark.streaming.window_sink import WindowedVaultSink
from core import Checked, Measured
from tracing import jobs_and_tasks
from walgen import SCHEMAS, WalGenerator, canon_row

# A fixed secp256k1 test key: publishing signs every part file with it.
SIGNING_KEY = "59c6995e998f97a5a0044966f0945389dc9e86dae88c7a8412f4603b6b78690d"
# Windows of 800 records: keccak is about a quarter of a window, so both
# per-window fixed cost and per-byte work show.
N_FILES, N_RECORDS = 5, 800


class Drain:
    """One finished stream drain and what it published."""

    def __init__(self, out_dir: str, wall_s: float, progress: list[dict],
                 run_id: str, expected: list[dict]) -> None:
        self.out_dir = out_dir
        self.wall_s = wall_s
        self.progress = progress
        self.run_id = run_id
        self.expected = expected

    @property
    def windows_s(self) -> list[float]:
        return [p["durationMs"]["triggerExecution"] / 1000.0 for p in self.progress]

    def manifest(self) -> list[dict]:
        with open(os.path.join(self.out_dir, "manifest.jsonl")) as f:
            return [json.loads(line) for line in f]


def make_wal(work: str, name: str, seed: int, n_files: int, n_records: int):
    """Write ``n_files`` WAL files into ``work/name``; return the directory,
    its size in bytes, the record count and the expected rows per file."""
    wal_dir = os.path.join(work, name)
    os.makedirs(wal_dir)
    gen = WalGenerator(seed)
    expected = [
        gen.write_wal(os.path.join(wal_dir, f"wal-{i:04d}.jsonl"), n_records, i)
        for i in range(n_files)
    ]
    size = sum(os.path.getsize(os.path.join(wal_dir, f)) for f in os.listdir(wal_dir))
    return wal_dir, size, n_files * n_records, expected


def drain(spark, wal_dir: str, out_dir: str, expected: list[dict], tracer) -> Drain:
    """Publish every file in ``wal_dir`` as its own signed window."""
    sink = WindowedVaultSink(out_dir, SCHEMAS, private_key_hex=SIGNING_KEY)
    with tracer.span("publish.drain"):
        start = time.perf_counter()
        query = (
            read_wal_stream(spark, wal_dir, max_files_per_trigger=1)
            .writeStream.option("checkpointLocation", out_dir + ".ckpt")
            .foreachBatch(sink.process_batch)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()  # raises if the stream failed
        wall = time.perf_counter() - start
    return Drain(out_dir, wall, list(query.recentProgress), str(query.runId), expected)


def cid_of(parts: list[str]) -> str:
    """Recompute a window's content id from its part files."""
    digests = [keccak256_file(p) for p in parts]
    cid = digests[0] if len(digests) == 1 else keccak256(b"".join(digests))
    return "0x" + cid.hex()


def part_files(path: str) -> list[str]:
    return sorted(os.path.join(path, p) for p in os.listdir(path) if p.endswith(".parquet"))


class WindowCheck(Checked):
    """Output checks plus the window totals the per-layer table needs."""

    def __init__(self) -> None:
        super().__init__()
        self.rows_out = 0
        self.parquet_bytes = 0
        self.part_files = 0
        self.windows = 0
        self.rows_by_cid: dict[str, list[tuple]] = {}


def check_drains(drains: list[Drain]) -> WindowCheck:
    """Windows are found through the manifest, never by file name: each
    non-empty (batch, table) has exactly one manifest row, its Parquet
    holds exactly the generator's inserts, and its cid recomputes from
    the part files on disk."""
    out = WindowCheck()
    con = duckdb.connect()
    for d in drains:
        rows = [r for r in d.manifest() if r["table"] is not None]
        seen = collections.Counter((r["batch_id"], r["table"]) for r in rows)
        want = {
            (b, t) for b, exp in enumerate(d.expected) for t, rs in exp.items() if rs
        }
        for key in sorted(want | set(seen)):
            out.expect(seen[key] == 1 and key in want,
                       f"{d.out_dir}: {seen[key]} manifest rows for {key}")
        for r in rows:
            b, table = r["batch_id"], r["table"]
            if b >= len(d.expected):
                continue
            cols = ", ".join(c for c, _ in SCHEMAS[table])
            got = sorted(
                (canon_row(x) for x in con.execute(
                    f"SELECT {cols} FROM read_parquet('{r['path']}/*.parquet')"
                ).fetchall()),
                key=lambda x: x[0],
            )
            exp = sorted(d.expected[b][table], key=lambda x: x[0])
            out.expect(got == exp, f"{r['path']}: rows differ from the generator")
            parts = part_files(r["path"])
            out.expect(cid_of(parts) == r["cid"], f"{r['path']}: cid does not recompute")
            out.expect(bool(r["signature"]) and len(r["signature"]) == 130 * len(parts),
                       f"{r['path']}: missing or short signature")
            out.rows_out += len(got)
            out.parquet_bytes += sum(os.path.getsize(p) for p in parts)
            out.part_files += len(parts)
            out.windows += 1
            out.rows_by_cid[r["cid"]] = exp
    con.close()
    return out


class PublishWorkload:
    """The ``publish`` workload: ``N_FILES`` WAL files of ``N_RECORDS``
    records each, drained into one window per file."""

    unit = "window"

    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self._outs = 0

    def _out(self) -> str:
        self._outs += 1
        return os.path.join(self.work, f"out-{self._outs:03d}")

    def generate(self) -> None:
        """Write the workload's WAL for the seed."""
        (self.wal_dir, self.wal_bytes, self.records_per_drain,
         self.expected) = make_wal(self.work, "wal", self.seed, N_FILES, N_RECORDS)

    def warm_up(self) -> None:
        """One drain of two files from the next seed, so codegen and the
        JIT are warm before timing."""
        wal_dir, _, _, expected = make_wal(self.work, "wal-warmup", self.seed + 1, 2, 500)
        drain(self.spark, wal_dir, self._out(), expected, self.tracer)

    def measure(self, seconds: float) -> Measured:
        """Drain until ``seconds`` have passed, at least once."""
        drains = []
        start = time.perf_counter()
        while True:
            drains.append(drain(self.spark, self.wal_dir, self._out(),
                                self.expected, self.tracer))
            elapsed = time.perf_counter() - start
            if elapsed >= seconds:
                break
        return Measured([w for d in drains for w in d.windows_s], elapsed, 0, drains)

    def check(self, m: Measured) -> WindowCheck:
        return check_drains(m.detail)

    def report(self, m: Measured) -> dict:
        wall = sum(d.wall_s for d in m.detail)
        return {"publish_wal_mb_s": (
            self.wal_bytes * len(m.detail) / 1e6 / wall, "MB/s", len(m.detail))}

    def work_units(self, m: Measured) -> int:
        return len(m.latencies)

    def layers(self, m: Measured, checked: WindowCheck, tracer, progress: list[dict]) -> dict:
        """Per-layer metrics, per window."""
        windows = self.work_units(m)

        def stream_s(*keys):
            return sum(p.get(k, 0) for p in progress for k in keys) / 1000.0

        jobs = sum(jobs_and_tasks(self.spark, d.run_id)[0] for d in m.detail)
        hashed = tracer.counts["hashing.bytes.sink"] + tracer.counts["hashing.bytes.signing"]
        records_in = self.records_per_drain * len(m.detail)
        keccak_s = tracer.total_s("hashing.keccak256_file")
        per_window = {
            "stream.planning_s": stream_s("queryPlanning"),
            "stream.offset_commit_s": stream_s(
                "latestOffset", "getBatch", "walCommit", "commitOffsets"),
            "stream.add_batch_s": stream_s("addBatch"),
            "sink.export_s": tracer.self_s("sink.process_batch"),
            "sink.spark_jobs_per_window": jobs,
            "sink.manifest_s": tracer.total_s("sink.manifest"),
            "sink.parquet_bytes": checked.parquet_bytes,
            "sink.part_files_per_window": checked.part_files,
            "cdc.records_in": records_in,
            "cdc.rows_out": checked.rows_out,
            "hashing.keccak_s": keccak_s,
            "hashing.bytes_hashed": hashed,
            "signing.sign_s": tracer.self_s("signing.sign_file"),
            "signing.signatures": tracer.counts["signing.signatures"],
        }
        out = {k: v / windows for k, v in per_window.items()}
        out.update({
            "stream.batches": len(progress),
            "cdc.rows_out_per_record": checked.rows_out / records_in,
            "hashing.keccak_mb_s": hashed / 1e6 / keccak_s,
            "hashing.bytes_hashed_per_byte_written": hashed / checked.parquet_bytes,
        })
        return out
