"""Process-tree CPU and memory, and host state, read from /proc.

The benchmark's process tree is this Python driver, the Spark JVM it
launches and the Python workers the JVM forks. CPU is summed over the
live tree including reaped children (cutime/cstime), so a worker that
exits between two readings still counts.
"""

from __future__ import annotations

import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stats() -> dict[int, list[str]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    text = f.read()
            except OSError:  # exited while listing
                continue
            out[int(name)] = text[text.rindex(")") + 2 :].split()
    return out


def _tree(root: int) -> dict[int, list[str]]:
    """Stat fields of ``root`` and every process below it, by pid."""
    stats = _stats()
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    todo, out = [root], {}
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(children.get(pid, []))
    return out


def descendants() -> list[int]:
    return [pid for pid in _tree(os.getpid()) if pid != os.getpid()]


def tree_cpu_s() -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    tree = _tree(os.getpid()).values()
    return sum(int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]) for f in tree) / _CLK


def tree_rss_mb() -> float:
    return sum(int(f[21]) for f in _tree(os.getpid()).values()) * _PAGE / 2**20


class PeakRss:
    """Samples the tree's resident memory from a thread while active."""

    def __init__(self, interval_s: float = 0.2, enabled: bool = True) -> None:
        self.interval_s = interval_s
        self.enabled = enabled  # a disabled sampler starts no thread and reads 0
        self.peak_mb = 0.0
        self.active = True  # samples taken while inactive are dropped
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            rss = tree_rss_mb()
            if self.active:
                self.peak_mb = max(self.peak_mb, rss)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> PeakRss:
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self.enabled:
            self._thread.join()


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostState:
    """Load average at start and CPU steal across the run."""

    def __init__(self) -> None:
        self.load1, self.load5, _ = os.getloadavg()
        self.cpus = len(os.sched_getaffinity(0))
        self._t0 = time.time()
        self._ticks0 = _cpu_ticks()

    def summary(self) -> dict:
        ticks = _cpu_ticks()
        delta = [b - a for a, b in zip(self._ticks0, ticks)]
        steal = delta[7] if len(delta) > 7 else 0
        return {
            "cpus": self.cpus,
            "load1_at_start": self.load1,
            "load5_at_start": self.load5,
            "steal_ticks": steal,
            "steal_pct": round(100.0 * steal / max(1, sum(delta[:8])), 3),
            "wall_s": round(time.time() - self._t0, 3),
        }
