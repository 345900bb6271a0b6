"""Process-tree accounting from ``/proc``: CPU seconds, peak RSS, host load.

The benchmark process starts the Spark JVM, which starts the Python worker
daemon and its workers, so "the program" is the whole tree rooted at this
process. CPU is summed over every live process in the tree; a process that
already exited is counted in its parent's ``cutime``/``cstime`` once reaped,
so nothing is counted twice.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces; fields after the closing paren are positional
    return raw[raw.rindex(")") + 2:].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat_fields(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def alive(pid: int) -> bool:
    st = _stat_fields(pid)
    return st is not None and st[0] not in ("Z", "X")


def tree_cpu_s(root: int | None = None) -> float:
    ticks = 0
    for pid in tree_pids(root):
        st = _stat_fields(pid)
        if st is not None:
            # utime stime cutime cstime are fields 14-17 of stat (1-based)
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def tree_rss_bytes(root: int | None = None) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the tree's summed RSS on a thread; ``peak_mb`` is the maximum."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 1e6


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of host CPU time stolen by the hypervisor between two samples."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # user nice system idle iowait irq softirq steal
    return 100.0 * delta[7] / total if total > 0 else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Poll until every pid has exited; returns the ones still alive."""
    deadline = time.monotonic() + timeout_s
    left = [p for p in pids if alive(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.1)
        left = [p for p in left if alive(p)]
    return left
