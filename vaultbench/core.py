"""Shared result types for the workloads."""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class Measured:
    """One timed loop: the latency of every unit of work it completed
    (a window, a query entry or a read), the loop's elapsed time, the
    operations that raised, and, where a client's request bundles several
    units (a pass over the queries and reads), each request's latency."""

    latencies: list[float]
    elapsed_s: float
    ops_failed: int = 0
    detail: list = field(default_factory=list)
    requests: list[float] | None = None


class Checked:
    """Counts of output checks, kept outside the timed region."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def expect(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 10:
                self.problems.append(what)
