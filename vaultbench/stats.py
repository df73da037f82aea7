"""Summary statistics and process probes for the benchmark report."""

from __future__ import annotations

import math
import os


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (``p`` in 0..100)."""
    s = sorted(values)
    k = max(1, math.ceil(p / 100 * len(s)))
    return s[k - 1]


def tail(values: list[float]) -> tuple[float, float] | None:
    """The highest whole percentile with at least ten samples beyond it,
    as ``(percentile, value)``; None when that is not above the median,
    i.e. with fewer than twenty samples."""
    n = len(values)
    p = math.floor(100 * (n - 10) / n)
    return (p, percentile(values, p)) if p >= 50 else None


def _status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except FileNotFoundError:  # the thread ended since the listing
            continue
    return out


def _client_pids() -> list[int]:
    """This Python process and the Spark JVM it launched."""
    pids = [os.getpid()]
    todo = _children(os.getpid())
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                exe = f.read().split(b"\0")[0]
        except FileNotFoundError:
            continue
        if exe.endswith(b"java"):
            pids.append(pid)
        else:  # a launcher script between us and the JVM
            todo.extend(_children(pid))
    return pids


def reset_peak_rss() -> None:
    """Restart the peak-RSS count (VmHWM) of this process and its JVM, so the
    peak covers only what follows."""
    for pid in _client_pids():
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this Python process plus its JVM."""
    return sum(_status_kb(pid, "VmHWM") for pid in _client_pids()) / 1024.0


def cpu_steal_s() -> float:
    """CPU time the host gave to other guests, summed over all CPUs since
    boot: a run whose share of it is high ran on a contended machine."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]
