"""Process-tree accounting and host diagnostics, read from /proc.

The benchmark process, the Spark driver JVM it launches and the Python
workers that JVM forks form one tree; CPU and memory are charged to the
whole tree because that is what a user of the pipeline pays for.
"""

from __future__ import annotations

import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name sits in parentheses and may contain spaces
    return raw[raw.rindex(")") + 2:].split()


def _tree(root: int | None = None) -> list[tuple[int, list[str]]]:
    """``root`` and all its live descendants, each with its stat fields
    (field 3 of /proc/pid/stat onwards)."""
    root = root or os.getpid()
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                stats[int(name)] = f
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append((pid, stats[pid]))
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the tree, including children the tree
    has already reaped."""
    # fields 14-17 of /proc/pid/stat: utime stime cutime cstime
    return sum(sum(int(x) for x in f[11:15]) for _, f in _tree(root)) / _CLK


# A process younger than this is left out of an RSS sample: a child the
# JVM forks to exec a helper shares the JVM's pages until it execs, and
# counting it would add the whole JVM a second time.
MIN_AGE_S = 0.2


def tree_rss_mb(root: int | None = None) -> float:
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    # field 22 is the start time in clock ticks, field 24 the RSS in pages
    pages = sum(int(f[21]) for _, f in _tree(root)
                if uptime - int(f[19]) / _CLK >= MIN_AGE_S)
    return pages * _PAGE / (1 << 20)


class RssSampler:
    """Samples the tree's summed RSS on a thread; ``peak_mb`` is the
    largest sample between ``start`` and ``stop``."""

    def __init__(self, period_s: float = 0.05):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.period_s)

    def start(self) -> None:
        self.peak_mb = tree_rss_mb()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
        return self.peak_mb


def _spin(n: int) -> int:
    acc = 0
    for i in range(n):
        acc = (acc * 31 + i) & 0xFFFF
    return acc


def host_probe() -> dict:
    """Diagnostics recorded beside each run and never used to adjust a
    metric: core count, load average, a single-thread interpreter probe
    and a multi-core BLAS probe. Contention from other tenants on the
    host shows in the probes even when the load average stays low."""
    import numpy as np

    t_single = []
    for _ in range(3):
        t0 = time.perf_counter()
        _spin(300_000)
        t_single.append(time.perf_counter() - t0)
    a = np.random.default_rng(0).random((600, 600))
    t_multi = []
    for _ in range(3):
        t0 = time.perf_counter()
        for _ in range(4):
            a @ a
        t_multi.append(time.perf_counter() - t0)
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "single_thread_probe_s": round(min(t_single), 5),
        "multi_core_probe_s": round(min(t_multi), 5),
    }
