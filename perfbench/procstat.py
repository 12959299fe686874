"""Process-tree accounting from ``/proc``: peak RSS of this process and
its descendants (the Spark JVM and its Python workers), and how many
cores the rest of the machine kept busy meanwhile."""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _tree() -> dict[int, list[str]]:
    """{pid: /proc/<pid>/stat fields after the command} for this process
    and its live descendants."""
    me = os.getpid()
    stats: dict[int, list[str]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                stats[int(p)] = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
    parent = {pid: int(f[1]) for pid, f in stats.items()}
    out = {}
    for pid in stats:
        q = pid
        while q in parent and q != me and q > 1:
            q = parent[q]
        if q == me:
            out[pid] = stats[pid]
    return out


def tree_rss_bytes() -> int:
    """Resident bytes of the tree's processes, leaving out any younger
    than a second: a JVM spawning a helper forks a copy of itself that
    briefly reports the JVM's whole RSS again."""
    with open("/proc/uptime") as fh:
        now_ticks = float(fh.read().split()[0]) * _TICK
    return sum(
        int(f[21]) * _PAGE
        for f in _tree().values()
        if now_ticks - int(f[19]) > _TICK
    )


def tree_cpu_ticks() -> int:
    """utime+stime of the live tree plus cutime+cstime, so a descendant
    that exits keeps counting through its parent."""
    return sum(int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]) for f in _tree().values())


def box_busy_ticks() -> int:
    with open("/proc/stat") as fh:
        f = list(map(int, fh.readline().split()[1:9]))
    return sum(f) - f[3] - f[4]  # minus idle and iowait


def cpu_probe_s() -> float:
    """Seconds for a fixed pure-Python loop: on a shared host, a slow
    probe shows a run that lost CPU to neighbours the guest cannot see
    (their time shows as neither busy nor steal here)."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i
    return time.perf_counter() - t0


class RssSampler:
    """Samples the tree's RSS on a background thread until stopped."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes())


class ExternalCpu:
    """Cores kept busy by processes outside this tree over a window."""

    def __enter__(self) -> "ExternalCpu":
        self._t0 = time.monotonic()
        self._box0 = box_busy_ticks()
        self._tree0 = tree_cpu_ticks()
        return self

    def __exit__(self, *exc) -> None:
        wall = time.monotonic() - self._t0
        ext = (box_busy_ticks() - self._box0) - (tree_cpu_ticks() - self._tree0)
        self.cores = max(0.0, ext / _TICK / wall) if wall > 0 else 0.0
