"""CPU seconds and resident memory of this process and its descendants,
read from ``/proc``: the driver Python, the JVM it launched and the
Python workers the JVM forks."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm (field 2) may hold spaces; the fields after it start past ')'
    return raw[raw.rindex(")") + 2 :].split()


def _tree() -> list[tuple[int, list[str]]]:
    """(pid, stat fields after comm) of this process and every descendant."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                stats[int(pid)] = st
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(int(st[1]), []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append((pid, stats[pid]))
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds() -> float:
    """User + system CPU of the live tree, plus what each live process
    has collected from children it reaped (fields 14-17 of stat)."""
    ticks = sum(int(st[11]) + int(st[12]) + int(st[13]) + int(st[14]) for _, st in _tree())
    return ticks / _TICK


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    (the ``steal`` column of /proc/stat): a noisy-neighbour indicator."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def rss_bytes() -> int:
    return sum(int(st[21]) for _, st in _tree()) * _PAGE


def descendants() -> list[int]:
    """Pids of every live process below this one."""
    return [pid for pid, _ in _tree() if pid != os.getpid()]


class PeakRss:
    """Samples the tree's summed RSS every ``interval`` seconds on a
    daemon thread; ``peak`` is the largest sum seen."""

    def __init__(self, interval: float = 0.2) -> None:
        self.peak = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes())
            self._stop.wait(self._interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
