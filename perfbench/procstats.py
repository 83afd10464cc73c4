"""CPU time and resident memory of this process and all its descendants
(the driver Python, the Spark JVM and the Python workers), from /proc."""

from __future__ import annotations

import os
import threading

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stats() -> dict[int, tuple[int, int, int, str]]:
    """pid -> (ppid, utime+stime+cutime+cstime in ticks, rss in pages, comm)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        # the command name may hold spaces or parentheses: split after the last ')'
        head, tail = raw.rsplit(")", 1)
        rest = tail.split()
        ticks = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
        out[int(name)] = (int(rest[1]), ticks, int(rest[21]), head.split("(", 1)[1])
    return out


def _tree(stats: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_) in stats.items():
        children.setdefault(ppid, []).append(pid)
    pids, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in stats:
            pids.append(pid)
            stack.extend(children.get(pid, ()))
    return pids


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants. Reaped
    children count through their parent's cutime/cstime, so short-lived
    workers are not lost."""
    stats = _read_stats()
    return sum(stats[p][1] for p in _tree(stats, os.getpid())) / _HZ


def host_steal_s() -> float:
    """CPU seconds, summed over all CPUs, that the hypervisor has given to
    other guests while this VM's CPUs wanted to run (``steal`` in
    /proc/stat); a diagnostic of host contention."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _HZ


def tree_rss_mb() -> float:
    """Summed RSS of the driver, its direct children (the JVM) and every
    Python process below them (the PySpark daemon and workers). Other
    descendants are helper commands the JVM spawns; between spawn and
    exec such a child shares the JVM's memory and reports its whole RSS,
    so counting it would add the JVM twice."""
    root = os.getpid()
    stats = _read_stats()
    total = 0
    for p in _tree(stats, root):
        ppid, _, rss, comm = stats[p]
        if p == root or ppid == root or comm.startswith("python"):
            total += rss
    return total * _PAGE / 2**20


class RssSampler:
    """Samples ``tree_rss_mb`` every ``INTERVAL`` seconds on a daemon
    thread between ``start()`` and ``stop()``; ``peak_mb`` is the largest
    sample."""

    INTERVAL = 0.25

    def __init__(self):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.INTERVAL)

    def start(self) -> None:
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
