"""The machine the run sits on: core count, memory, load, the resident
memory of the processes this run started, and how fast the box runs
fixed kernels while the engine is idle. Linux /proc only; no Spark."""

from __future__ import annotations

import math
import os
import statistics
import threading
import time

import numpy as np


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb(mem_mb: int) -> int:
    """An eighth of the box's memory, clamped to 1-4 GiB: the crawl state
    is small, and the box is shared."""
    return max(1024, min(4096, mem_mb // 8))


def snapshot() -> dict:
    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_mb(),
        "loadavg": list(os.getloadavg()),
    }


def _ppid_and_hwm(pid: int) -> tuple[int, int] | None:
    """(parent pid, peak resident KiB so far) of a live process, None once
    it is gone. The kernel keeps the peak (VmHWM), so no sample misses it."""
    try:
        with open(f"/proc/{pid}/status") as f:
            ppid, hwm = None, 0
            for line in f:
                if line.startswith("PPid:"):
                    ppid = int(line.split()[1])
                elif line.startswith("VmHWM:"):
                    hwm = int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        return None
    return (ppid, hwm) if ppid is not None else None


def descendants(root: int) -> dict[int, int]:
    """pid -> peak resident KiB for every live descendant of ``root``."""
    info = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            got = _ppid_and_hwm(int(name))
            if got is not None:
                info[int(name)] = got
    out, frontier = {}, [root]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, hwm) in info.items():
            if ppid == parent and pid not in out:
                out[pid] = hwm
                frontier.append(pid)
    return out


# the JVM and its Python workers. A child the JVM forks to run a command
# (chmod, its spawn helper) carries the JVM's VmHWM until it execs, so
# counting every descendant would count the JVM twice now and then.
COUNTED = ("java", "python")


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except (FileNotFoundError, ProcessLookupError):
        return "?"


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root``'s descendants, counting the
    children each of them has already reaped (utime+stime+cutime+cstime).
    Hypervisor steal is not charged to processes, so this stays steady
    on a box whose wall times drift with its neighbours' load."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (FileNotFoundError, ProcessLookupError):
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def cpu_ticks() -> dict[str, int]:
    """Box-wide CPU ticks from /proc/stat, steal included."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return dict(zip(
        ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal"), v))


_SMALL = np.random.default_rng(0).random(1 << 16)
_BIG = np.random.default_rng(1).random(1 << 23)
_IDX = np.random.default_rng(2).integers(0, 1 << 23, 1 << 20)

# name -> (kernel, repetitions, median wall seconds on a quiet 4-core,
# 15 GiB Intel Xeon VM). Each kernel stresses a different part of the
# machine the engine leans on.
PROBES = {
    "sort": (lambda: np.sort(_SMALL), 25, 5.22e-4),  # cache-resident compute
    "stream": (lambda: _BIG.sum(), 5, 5.86e-3),  # memory bandwidth (64 MiB)
    "gather": (lambda: _BIG[_IDX].sum(), 5, 1.426e-2),  # memory latency
    "py": (lambda: sum(i * i for i in range(100_000)), 5, 5.44e-3),  # interpreter
}


def slowdown() -> float:
    """How much slower than the quiet reference box the box runs a fixed
    set of kernels now: the geometric mean, over PROBES, of each kernel's
    median wall time ÷ its reference time (≈0.15 s in all).

    Called between timed intervals, when the engine has no job running,
    it sees what slows every instruction (neighbours on the host's cores,
    caches and memory, clock changes) without the engine's own load
    slowing it down, so a change in the engine's work is not divided
    away."""
    logs = []
    for kernel, reps, ref_s in PROBES.values():
        walls = []
        for _ in range(reps):
            t0 = time.perf_counter()
            kernel()
            walls.append(time.perf_counter() - t0)
        logs.append(math.log(statistics.median(walls) / ref_s))
    return math.exp(sum(logs) / len(logs))


class Monitor:
    """Background sampler of ``peak_mb``: the largest sum, over the
    processes alive at one sample, of each one's peak RSS so far (VmHWM):
    the Spark driver JVM and its Python workers. ``peak_parts`` is that
    sample's process name -> peak RSS MiB, for the sidecar."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_kb = 0
        self.peak_parts: list[tuple[str, float]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            now = {pid: kb for pid, kb in descendants(me).items()
                   if _comm(pid).startswith(COUNTED)}
            if sum(now.values()) > self.peak_kb:
                self.peak_kb = sum(now.values())
                self.peak_parts = [(_comm(pid), kb / 1024.0) for pid, kb in now.items()]
            self._stop.wait(self.period_s)

    def __enter__(self) -> "Monitor":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
