"""Host-noise diagnostics and process-tree bookkeeping, from /proc only.

The diagnostics are recorded beside the metrics to explain noisy pairs
of runs; they never gate a run and never normalise a metric.
"""

from __future__ import annotations

import os
import signal
import statistics
import threading
import time

import numpy as np


def process_start_epoch() -> float:
    """Wall-clock time this process started (from /proc, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def calib_s() -> float:
    """Median of 3 timings of a fixed single-thread numpy kernel."""
    a0 = np.arange(1, 1_000_001, dtype=np.float64)
    times = []
    for _ in range(3):
        t = time.perf_counter()
        a = a0
        for _ in range(20):
            a = np.sqrt(a * 1.000001 + 1.0)
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return 100.0 * d[7] / total if total else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(v) for v in f.read().split()[:3]]


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def rss_mb(pids: list[int]) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 1e6


class RssSampler:
    """Samples the summed RSS of this process tree every PERIOD_S; keeps
    the peak."""

    PERIOD_S = 0.2

    def __init__(self) -> None:
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, rss_mb(descendants(os.getpid())))
            self._stop.wait(self.PERIOD_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Poll until none of ``pids`` is alive, reaping those that are this
    process's children; SIGKILL and reap what remains, and return it."""
    deadline = time.time() + timeout_s
    alive = pids
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _alive(p)]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    for p in pids:
        _reap(p, block=p in alive)
    return alive


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _reap(pid: int, block: bool) -> None:
    try:
        os.waitpid(pid, 0 if block else os.WNOHANG)
    except ChildProcessError:
        pass  # not our child: its own parent reaps it
