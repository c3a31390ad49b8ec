"""Hypervisor steal: CPU time the host gave to other guests while this
machine's vCPUs wanted to run, as counted in /proc/stat."""

from __future__ import annotations

import contextlib
import time


def cpu_times() -> list[int]:
    """The machine's aggregate CPU times from /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


@contextlib.contextmanager
def stolen():
    """Measure the wall time of the ``with`` body and the share of the
    machine's busy CPU time (idle and iowait left out) that the
    hypervisor stole meanwhile; both are in the yielded dict at exit."""
    out: dict = {}
    c0, t0 = cpu_times(), time.perf_counter()
    yield out
    d = [b - a for a, b in zip(c0, cpu_times())]
    out["wall"] = time.perf_counter() - t0
    out["steal"] = d[7] / max(1, sum(d) - d[3] - d[4])
