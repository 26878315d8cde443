"""Host-noise guards, measured the same way as ``bench.py``: a fixed
memory-bandwidth canary and the CPU steal share from ``/proc/stat``."""

from __future__ import annotations

import time


def canary_ms() -> float:
    """Milliseconds for a fixed single-thread streaming-read workload over
    ~64 MB (larger than the last-level cache), so a co-tenant saturating the
    memory bus shows even when steal reads 0%."""
    import numpy as np

    a = np.random.default_rng(0).random((64, 1 << 17))
    t0 = time.perf_counter()
    for _ in range(4):
        s = a.sum(axis=1)
        a[:, :1] += s[:, None] * 1e-12
    return (time.perf_counter() - t0) * 1000.0


def cpu_jiffies() -> tuple[int, int] | None:
    """(steal, total) jiffies from /proc/stat, None where unavailable."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0, sum(vals))
    except (OSError, ValueError):
        return None


def steal_pct(j0, j1) -> float | None:
    if not j0 or not j1:
        return None
    return 100.0 * (j1[0] - j0[0]) / max(j1[1] - j0[1], 1)


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process in MiB, 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
