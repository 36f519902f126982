"""Host accounting from /proc: foreign CPU and peak resident memory of this
process tree (driver, py4j JVM and the Python workers the JVM spawns).

Foreign CPU over an interval = non-idle jiffies of the whole host minus the
CPU this process tree used, as average cores. It tells host noise apart
from a program change. The JVM is never reaped, so RUSAGE_CHILDREN cannot
see it; live descendants are found by one /proc walk.
"""

from __future__ import annotations

import os
import resource
import threading
import time

_HZ = os.sysconf("SC_CLK_TCK")


def _busy_jiffies() -> int:
    with open("/proc/stat") as f:
        vals = list(map(int, f.readline().split()[1:]))
    return sum(vals) - vals[3] - vals[4]  # total minus idle+iowait


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds) for every readable process."""
    out = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(p)] = (int(rest[1]), sum(map(int, rest[11:15])) / _HZ)
    return out


def _descendants(table: dict, root: int) -> set[int]:
    found, frontier = set(), {root}
    while frontier:
        frontier = {p for p, v in table.items() if v[0] in frontier}
        found |= frontier
    return found


def tree_cpu_s() -> float:
    """CPU seconds of this process plus every live descendant."""
    a = resource.getrusage(resource.RUSAGE_SELF)
    b = resource.getrusage(resource.RUSAGE_CHILDREN)
    table = _proc_table()
    live = sum(table[p][1] for p in _descendants(table, os.getpid()))
    return a.ru_utime + a.ru_stime + b.ru_utime + b.ru_stime + live


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_memory_bytes() -> int:
    """Resident memory of this process tree, each page shared between
    processes (forked Python workers) counted once: the sum of PSS."""
    me = os.getpid()
    return sum(_pss_bytes(p) for p in _descendants(_proc_table(), me) | {me})


class ForeignMeter:
    """Average foreign cores between start() and stop()."""

    def start(self) -> None:
        self._b0 = _busy_jiffies()
        self._m0 = tree_cpu_s()
        self._t0 = time.time()

    def stop(self) -> float:
        dt = max(time.time() - self._t0, 1e-9)
        busy = (_busy_jiffies() - self._b0) / _HZ
        mine = tree_cpu_s() - self._m0
        return max(0.0, (busy - mine) / dt)


class MemorySampler:
    """Background sampler of the tree's resident memory; `peak` in bytes."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_memory_bytes())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_memory_bytes())
