"""Peak resident memory of this process and all of its descendants (the
JVM that PySpark launches and its Python workers), sampled from /proc.

Memory is summed as PSS (proportional set size): a page shared by n
processes counts 1/n in each. Summed RSS would count it n times, so a
child forked from the 2 GB JVM or from the Python worker daemon would add
its parent's whole footprint for as long as it lives."""

from __future__ import annotations

import os
import threading


def _parents() -> dict[int, int]:
    """pid -> parent pid of every live process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        # field 4 (ppid) follows the parenthesised command name
        out[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> list[int]:
    """Live processes below ``root`` in the process tree."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_pss_bytes(root: int) -> int:
    """Summed PSS of ``root`` and its descendants."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024  # kB
                        break
        except OSError:  # exited, or a kernel thread without an mm
            continue
    return total


_HZ = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and its descendants. A process
    that exited was reaped by its parent, also in the tree, whose
    cutime/cstime now hold its time."""
    ticks = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return ticks / _HZ


class PeakRss:
    """Background sampler: ``with PeakRss() as p: ...; p.peak_mb``."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            self.peak = max(self.peak, tree_pss_bytes(root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
