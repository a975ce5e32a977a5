"""Metric arithmetic and process/filesystem probes for the lake benchmark.

Pure functions, so the self-tests can check them without a JVM.
"""

from __future__ import annotations

import math
import os
import resource
import statistics

#: Percentile ladder for tail latency; the reported tail is the highest rung
#: that still has at least ``TAIL_MIN_BEYOND`` samples beyond it.
TAIL_LADDER = (50.0, 90.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10


def gmean(values) -> float:
    """Geometric mean of positive values."""
    vals = list(values)
    if not vals:
        raise ValueError("gmean of no values")
    if any(v <= 0 for v in vals):
        raise ValueError("gmean needs positive values")
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (``p`` in 0..100) of a non-empty sample."""
    vals = sorted(values)
    if not vals:
        raise ValueError("percentile of no values")
    rank = max(1, math.ceil(p / 100.0 * len(vals)))
    return vals[min(rank, len(vals)) - 1]


def tail(values) -> tuple[float, float] | None:
    """``(p, value)`` for the highest ladder percentile with at least
    ``TAIL_MIN_BEYOND`` samples beyond it, or None when even p50 has
    fewer (fewer than 20 samples)."""
    n = len(values)
    best = None
    for p in TAIL_LADDER:
        if n * (1.0 - p / 100.0) >= TAIL_MIN_BEYOND - 1e-9:
            best = (p, percentile(values, p))
    return best


def failed_frac(failed: int, attempted: int) -> float:
    """Ops that raised or returned a wrong result ÷ ops attempted."""
    if attempted <= 0:
        raise ValueError("no ops attempted")
    return failed / attempted


def op_p50_gmean(latencies_by_type: dict[str, list[float]]) -> float:
    """Geometric mean over op types of each type's median latency."""
    return gmean(statistics.median(v) for v in latencies_by_type.values()
                 if v)


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles(n=4)``
    gives them — the run-to-run spread the bounds are checked against."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def tree_files(roots) -> dict[str, int]:
    """``{path: size}`` of every regular file under ``roots``."""
    out = {}
    for root in roots:
        for d, _, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                try:
                    out[p] = os.lstat(p).st_size
                except FileNotFoundError:
                    pass
    return out


def bytes_created(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes of files present in ``after`` but not in ``before`` (lake files
    are immutable once written, so new paths are the bytes written)."""
    return sum(size for p, size in after.items() if p not in before)


def vm_hwm_kb(pid: int) -> int:
    """Kernel resident-set high-water mark of ``pid`` (``VmHWM``), in KiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def self_maxrss_kb() -> int:
    """This Python process's own peak RSS (``ru_maxrss`` is KiB on Linux)."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss


def cpu_jiffies() -> tuple[int, int]:
    """``(steal, total)`` clock ticks of all CPUs so far, from the ``cpu``
    line of ``/proc/stat``; steal is time the hypervisor ran someone
    else while this machine's CPUs wanted to run."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    ticks = [int(x) for x in fields[1:9]]  # user .. steal; guest is in user
    return ticks[7], sum(ticks)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time stolen between two ``cpu_jiffies`` readings, %."""
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0
