"""Host and process-tree meters read from /proc.

``TreeMeter`` samples the resident memory of a process tree (the Spark
JVM and its Python workers, not the benchmark's own process) on
a background thread while a timed job runs, and reads their CPU time at
both ends.
Memory is the summed proportional set size (Pss): pages the forked
Python workers share with their parent count once, not once per worker.
``steal`` counters come from the aggregate /proc/stat line: ticks the
hypervisor gave to another tenant while this guest's vCPUs were
runnable, which is what makes a noisy window visible next to a number.
"""

from __future__ import annotations

import os
import threading
import time

__all__ = ["TreeMeter", "steal_ticks", "descendants"]

_CLK = os.sysconf("SC_CLK_TCK")


def steal_ticks() -> int:
    """Steal ticks from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _procs() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, CPU ticks) for every process.  CPU counts reaped
    children too, so a worker that exits mid-job keeps its ticks."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                s = f.read()
        except OSError:
            continue                       # exited while listing
        f = s[s.rfind(")") + 2:].split()   # fields after "(comm)"
        out[int(name)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    return out


def _tree(procs: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _cpu) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass                               # exited since listing
    return 0


def descendants(root: int) -> list[int]:
    return [p for p in _tree(_procs(), root) if p != root]


class TreeMeter:
    """Use as a context manager around one timed job; afterwards read
    ``peak_rss_mb``, ``busy_cores`` and ``steal_cores`` of the tree
    rooted at ``root``."""

    INTERVAL_S = 0.1

    def __init__(self, root: int):
        self.root = root
        self.peak_rss_mb = 0.0
        self.busy_cores = 0.0
        self.steal_cores = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> float:
        procs = _procs()
        tree = _tree(procs, self.root)
        mb = sum(_pss_kb(p) for p in tree) / 1024
        self.peak_rss_mb = max(self.peak_rss_mb, mb)
        return sum(procs[p][1] for p in tree if p in procs)

    def _run(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self._sample()

    def __enter__(self) -> "TreeMeter":
        self._t0 = time.perf_counter()
        self._cpu0 = self._sample()
        self._steal0 = steal_ticks()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        wall = max(time.perf_counter() - self._t0, 1e-9)
        cpu = self._sample() - self._cpu0
        self.busy_cores = max(cpu, 0) / _CLK / wall
        self.steal_cores = (steal_ticks() - self._steal0) / _CLK / wall
