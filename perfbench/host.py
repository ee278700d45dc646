"""What the host did to a run: CPU time it withheld, and memory used.

The benchmark runs on a virtual machine whose host is shared. When the
host is busy it withholds CPU from runnable virtual CPUs; the guest
counts that time as ``steal`` in /proc/stat. Measured on a 4-vCPU guest,
runs whose steal share was 14% read 40% slower than runs at 5%, which
no amount of repetition inside a run averages out.

The timings the benchmark gates on are therefore scaled by the share of
demanded CPU time the host granted over the timed interval:
``granted = busy / (busy + steal)``, where ``busy`` is all non-idle,
non-steal time. That is the wall time the same work takes when every
runnable thread gets its CPU, under the assumption that the host delays
the critical path by the same share as all demanded CPU time. Raw walls
and the steal share are reported next to the scaled ones.
"""

from __future__ import annotations

import bisect
import os
import threading
import time


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) jiffies of the whole machine since boot."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (int(x) for x in fh.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


def granted(a: tuple[int, int], b: tuple[int, int]) -> float:
    """Share of demanded CPU time the host granted between readings
    ``a`` and ``b`` of :func:`cpu_ticks`; 1.0 when nothing ran."""
    busy, steal = b[0] - a[0], b[1] - a[1]
    return busy / (busy + steal) if busy + steal > 0 else 1.0


def _procs() -> dict[int, tuple[int, int]]:
    """pid → (parent pid, resident kB) of every process."""
    out: dict[int, tuple[int, int]] = {}
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(d)] = (int(fields[1]), int(fields[21]) * page_kb)
    return out


def tree(pid: int, procs: dict[int, tuple[int, int]] | None = None) -> list[int]:
    """``pid`` and every process under it."""
    procs = _procs() if procs is None else procs
    found, todo = [], [pid]
    while todo:
        p = todo.pop()
        found.append(p)
        todo.extend(c for c, (pp, _) in procs.items() if pp == p)
    return found


def running(pid: int) -> bool:
    """Whether ``pid`` exists and has not exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tree_rss_kb(pid: int) -> int:
    """Resident set of ``pid`` and every process under it."""
    procs = _procs()
    return sum(procs[p][1] for p in tree(pid, procs) if p in procs)


class HostSampler:
    """A thread sampling :func:`cpu_ticks` and, once ``pid`` is set, the
    resident set of that process tree (the driver JVM, the Python worker
    daemon and its workers)."""

    def __init__(self, every_s: float = 0.2):
        self.every_s = every_s
        self.pid: int | None = None
        self.peak_kb = 0
        self.times: list[float] = []
        self.ticks: list[tuple[int, int]] = []
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        t, ticks = time.time(), cpu_ticks()
        with self._lock:
            self.times.append(t)
            self.ticks.append(ticks)
        if self.pid is not None:
            self.peak_kb = max(self.peak_kb, tree_rss_kb(self.pid))

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.every_s)

    def start(self) -> None:
        self._t.start()

    def stop(self) -> None:
        self._stop.set()
        self._t.join()
        self._sample()

    def granted_between(self, t0: float, t1: float) -> float:
        """:func:`granted` over the samples enclosing ``[t0, t1]``
        (epoch seconds)."""
        with self._lock:
            i = max(0, bisect.bisect_right(self.times, t0) - 1)
            j = min(len(self.times) - 1, bisect.bisect_left(self.times, t1))
            return granted(self.ticks[i], self.ticks[j])
