"""Benchmark entry point: one workload, one seed, one process.

    python3 vaultbench/run.py --workload publish --seed 1 --seconds 5 --trace 0

Runs from the root of a checkout.  Every file the run makes (inputs,
windows, checkpoints, Spark's scratch, ``spark-warehouse``, ``derby.log``)
goes under ``vaultbench/work/<workload>-s<seed>-<pid>/``, which is emptied
at the end except for ``record.json`` and, in a traced run,
``spans.jsonl``.  The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
See vaultbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

# The package comes first: without it there is nothing to measure.
import basin_cli_spark  # noqa: E402,F401

import stats  # noqa: E402
from query_mix import ENTRIES  # noqa: E402
from tracing import ProgressListener, Tracer, gc_seconds, install, wait_listener_bus  # noqa: E402

DRIVER_MEM = "3g"
WORKLOADS = ("publish", "read_mix")
E2E_UNITS = {
    "setup_s": "s", "latency_p50_s": "s", "latency_geomean_s": "s",
    "throughput_per_s": "1/s",
}
# Every traced run reports all of these; a layer the workload does not
# reach reads 0.  Times and counts are per unit of work (see README.md).
LAYER_UNITS = {
    "stream.batches": "count", "stream.planning_s": "s",
    "stream.offset_commit_s": "s", "stream.add_batch_s": "s",
    "sink.export_s": "s", "sink.spark_jobs_per_window": "count",
    "sink.manifest_s": "s", "sink.parquet_bytes": "B",
    "sink.part_files_per_window": "count",
    "cdc.records_in": "count", "cdc.rows_out": "count", "cdc.rows_out_per_record": "ratio",
    "hashing.keccak_s": "s", "hashing.bytes_hashed": "B", "hashing.keccak_mb_s": "MB/s",
    "hashing.bytes_hashed_per_byte_written": "ratio",
    "signing.sign_s": "s", "signing.signatures": "count",
    "query.build_s": "s", "query.plan_s": "s", "query.exec_s": "s",
    "query.shuffle_bytes": "B", "query.spill_bytes": "B",
    "query.python_rows": "count", "query.tasks": "count",
    "events.manifest_scan_s": "s", "events.list_s": "s", "events.resolve_s": "s",
    "events.retrieve_s": "s", "events.rows_read": "count",
    "jvm.gc_s": "s", "session.start_s": "s", "process.peak_rss_mb": "MB",
    "latency_tail_s": "s", "trace.overhead_pct": "%",
    **{f"query.{name}_s": "s" for name in ENTRIES},
}


def _prepare(work: str) -> None:
    """Point every scratch path of Spark and its Python workers into
    ``work`` before the JVM starts."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.chdir(work)


def _start_spark(work: str):
    from basin_cli_spark.session import get_spark

    return get_spark(app_name="vaultbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}",
    })


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _make(name: str, spark, work: str, seed: int, tracer):
    if name == "publish":
        from publish import PublishWorkload
        return PublishWorkload(spark, work, seed, tracer)
    from read_mix import ReadMixWorkload
    return ReadMixWorkload(spark, work, seed, tracer)


def _git_commit() -> str | None:
    """HEAD of the checkout, or None when it is not a git work tree.  The
    search for ``.git`` stops at the checkout, so an enclosing repository
    is never reported."""
    env = {**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)}
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], env=env,
                             capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _p50(m) -> float:
    """Median request latency (see ``core.Measured.requests``)."""
    return statistics.median(m.requests or m.latencies)


def _measure(args, work: str, record: dict) -> dict:
    tracer = Tracer(run_id=os.path.basename(work), enabled=False)
    t0 = time.perf_counter()
    spark = _start_spark(work)
    session_s = time.perf_counter() - t0
    try:
        wl = _make(args.workload, spark, work, args.seed, tracer)
        wl.generate()
        wl.warm_up()
        setup_s = time.perf_counter() - t0
        stats.reset_peak_rss()

        if args.trace:
            # untraced, then traced: the overhead is the traced median
            # request latency against the untraced one
            before = wl.measure(args.seconds)
            uninstall = install(tracer)
            listener = ProgressListener(spark)
            tracer.enabled = True
            gc0 = gc_seconds(spark)
            try:
                m = wl.measure(args.seconds)
            finally:
                gc_s = gc_seconds(spark) - gc0
                tracer.enabled = False
                uninstall()
            wait_listener_bus(spark)
            listener.close()
            runs = [m, before]
        else:
            m = wl.measure(args.seconds)
            runs = [m]
        peak_rss = stats.peak_rss_mb()

        checks = [wl.check(r) for r in runs]
        attempted = sum(len(r.latencies) + r.ops_failed + c.attempted for r, c in zip(runs, checks))
        failed = sum(r.ops_failed + c.failed for r, c in zip(runs, checks))
        problems = [p for c in checks for p in c.problems]
        if args.trace:
            metrics = {name: 0.0 for name in LAYER_UNITS}
            metrics.update(wl.layers(m, checks[0], tracer, listener.records))
            tail = stats.tail(m.latencies)
            base = _p50(before)
            metrics.update({
                "jvm.gc_s": gc_s / wl.work_units(m),
                "session.start_s": session_s,
                "process.peak_rss_mb": peak_rss,
                "latency_tail_s": tail[1] if tail else max(m.latencies),
                "trace.overhead_pct": 100.0 * (_p50(m) - base) / base,
            })
        else:
            metrics = {
                "setup_s": setup_s,
                "latency_p50_s": _p50(m),
                "latency_geomean_s": statistics.geometric_mean(m.latencies),
                "throughput_per_s": len(m.latencies) / m.elapsed_s,
            }
        record["report"] = _report(wl, m, setup_s, peak_rss, attempted, failed)
    finally:
        _stop_spark(spark)

    if args.trace:
        _print_layer_table(tracer)
        tracer.write(os.path.join(work, "spans.jsonl"))
    record["problems"] = problems
    for line in problems:
        print(f"check failed: {line}")
    units = {**E2E_UNITS, **LAYER_UNITS}
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def _report(wl, m, setup_s: float, peak_rss: float, attempted: int, failed: int) -> dict:
    """Print the workload's named end-to-end metrics with units and sample
    counts; return them by name."""
    unit = wl.unit
    n = len(m.latencies)
    rows = {
        "setup_s": (setup_s, "s", "1"),
        f"{unit}_latency_p50_s": (statistics.median(m.latencies), "s", f"{n}"),
    }
    tail = stats.tail(m.latencies)
    if tail is not None:
        rows[f"{unit}_latency_tail_s"] = (tail[1], "s", f"{n}, p{tail[0]:.0f}")
    rows.update(wl.report(m))
    rows["peak_rss_mb"] = (peak_rss, "MB", "1")
    rows["error_rate"] = (failed / attempted, "ratio", f"{attempted}")
    for name, (value, unit_, count) in rows.items():
        print(f"  {name:<28} {value:>12.4f} {unit_:<5} n={count}")
    if tail is None:
        print(f"  ({unit}_latency_tail_s: {n} samples give no percentile above the"
              " median with ten samples beyond it)")
    return {k: v[0] for k, v in rows.items()}


def _print_layer_table(tracer) -> None:
    print(f"  {'span':<28} {'calls':>6} {'total_s':>10} {'self_s':>10}")
    for name, row in sorted(tracer.layer_table().items()):
        print(f"  {name:<28} {row['calls']:>6} {row['total_s']:>10.4f} {row['self_s']:>10.4f}")


def run(args) -> dict:
    work = os.path.join(HERE, "work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "nproc": len(os.sched_getaffinity(0)),
              "driver_mem": DRIVER_MEM, "loadavg_start": stats.loadavg(),
              "git_commit": _git_commit()}
    steal0, t0 = stats.cpu_steal_s(), time.perf_counter()
    try:
        _prepare(work)
        result = _measure(args, work, record)
    finally:
        os.chdir(HERE)
        record["loadavg_end"] = stats.loadavg()
        record["cpu_steal_pct"] = 100.0 * (stats.cpu_steal_s() - steal0) / (
            (time.perf_counter() - t0) * len(os.sched_getaffinity(0)))
        with open(os.path.join(work, "record.json"), "w") as f:
            json.dump(record, f, indent=1)
        for entry in os.listdir(work):
            if entry not in ("record.json", "spans.jsonl"):
                path = os.path.join(work, entry)
                shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)
    print("record " + json.dumps(record))
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    print(f"vaultbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
