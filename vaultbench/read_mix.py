"""Read workload: headline queries and vault reads from one client.

Set-up generates the query fixtures, publishes a vault and warms both
up (see ``query_mix`` and ``vault_read``).  The timed loop
runs passes: each registry entry in ``query_mix.ENTRIES`` once and one
read of each kind in ``vault_read.KINDS``, in an order the seed shuffles
per pass, one after another on one client thread.  A pass is the
request; single entry and read times range from 0.1 to over 1 s, so
their median moves with the mix rather than with the program.
"""

from __future__ import annotations

import random
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

from core import Checked, Measured
from query_mix import ENTRIES, QuerySet
from vault_read import KINDS, VaultReads


class ReadMixWorkload:
    unit = "op"

    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        self.queries = QuerySet(spark, work, seed, tracer)
        self.vault = VaultReads(spark, work, seed, tracer)
        self.ops = [("query", n) for n in ENTRIES] + [("read", k) for k in KINDS]
        self.rng = random.Random(seed)

    def generate(self) -> None:
        self.queries.generate()
        self.vault.generate()

    def warm_up(self) -> None:
        """Publish the vault and warm its reads on a second thread while the
        queries warm up: both are mostly the JVM compiling."""
        with ThreadPoolExecutor(max_workers=1) as pool:
            vault = pool.submit(self.vault.warm_up)
            self.queries.warm_up()
            vault.result()

    def measure(self, seconds: float) -> Measured:
        """Whole passes until ``seconds`` have passed, at least one.
        ``detail`` holds ``(side, name, param, result, latency)`` per op;
        an op that raised has the error's repr as its result and no
        latency."""
        latencies, detail, failed, passes = [], [], 0, []
        start = time.perf_counter()
        while True:
            order = list(self.ops)
            self.rng.shuffle(order)
            done = len(latencies)
            for side, name in order:
                try:
                    if side == "query":
                        latency, result = self.queries.run(name)
                        param = None
                    else:
                        latency, param, result = self.vault.run(name)
                except Exception as e:  # an op that raises counts as failed
                    failed += 1
                    detail.append((side, name, None, repr(e), None))
                    continue
                latencies.append(latency)
                detail.append((side, name, param, result, latency))
            passes.append(sum(latencies[done:]))
            elapsed = time.perf_counter() - start
            if elapsed >= seconds:
                break
        return Measured(latencies, elapsed, failed, detail, passes)

    def check(self, m: Measured) -> Checked:
        done = [d for d in m.detail if d[4] is not None]
        q = self.queries.check([(name, r) for side, name, _, r, _ in done if side == "query"])
        v = self.vault.check([(name, p, r) for side, name, p, r, _ in done if side == "read"])
        out = Checked()
        out.attempted = q.attempted + v.attempted
        out.failed = q.failed + v.failed
        out.problems = (q.problems + v.problems)[:10]
        return out

    def _times(self, m: Measured, side: str) -> dict[str, list[float]]:
        times: dict[str, list[float]] = {}
        for d in m.detail:
            if d[4] is not None and d[0] == side:
                times.setdefault(d[1], []).append(d[4])
        return times

    def report(self, m: Measured) -> dict:
        entries = [statistics.median(v) for v in self._times(m, "query").values()]
        reads = [t for v in self._times(m, "read").values() for t in v]
        return {
            "query_total_s": (sum(entries), "s", len(entries)),
            "query_geomean_s": (statistics.geometric_mean(entries), "s", len(entries)),
            "read_latency_p50_s": (statistics.median(reads), "s", len(reads)),
            "read_ops_s": (len(reads) / sum(reads), "1/s", len(reads)),
        }

    def work_units(self, m: Measured) -> int:
        """Passes over the ops."""
        return len(m.requests)

    def layers(self, m: Measured, checked, tracer, progress) -> dict:
        """Per-layer metrics, per pass, so the query and events span times
        add up to the pass latency."""
        passes = self.work_units(m)
        out = {**self.queries.layers(tracer, passes), **self.vault.layers(tracer, passes)}
        for name, times in self._times(m, "query").items():
            out[f"query.{name}_s"] = statistics.median(times)
        return out
