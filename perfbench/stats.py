"""Percentiles, host sizing and host stamp for the benchmark."""

from __future__ import annotations

import functools
import math
import os
import random
import threading
import time

MIN_BEYOND = 10


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile, from 99 down to 50, that has at
    least MIN_BEYOND of `n` samples beyond it (nearest rank); None when
    even the median does not."""
    for p in range(99, 49, -1):
        if n - math.ceil(p * n / 100) >= MIN_BEYOND:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (p in (0, 100])."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]



def mem_total_bytes(meminfo: str = "/proc/meminfo") -> int | None:
    try:
        with open(meminfo) as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


def jvm_heap(total_bytes: int | None) -> str:
    """Spark JVM heap for this host: a quarter of physical memory,
    between 1 and 8 GiB (the JVM shares the host with the Python process,
    its workers and the page cache)."""
    if total_bytes is None:
        return "2g"
    gib = total_bytes // (4 * 1024**3)
    return f"{max(1, min(8, gib))}g"


def vm_hwm_bytes(pid: int) -> int:
    """Peak resident set size of a process (VmHWM), 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def git_head(root: str) -> str:
    """The commit a checkout was made from, read from .git without
    running git; 'unknown' outside a git work tree."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as fh:
            head = fh.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        path = os.path.join(git, ref)
        if os.path.exists(path):
            with open(path) as fh:
                return fh.read().strip()
        with open(os.path.join(git, "packed-refs")) as fh:
            for line in fh:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


class StealSampler:
    """Samples the host's CPU steal share from /proc/stat in a thread, so
    a result records how much a noisy neighbour took while it ran."""

    def __init__(self, interval_s: float = 1.0, path: str = "/proc/stat"):
        self._interval = interval_s
        self._path = path
        self._pcts: list[float] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def start(self) -> "StealSampler":
        if cpu_jiffies(self._path) is None:
            return self
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def _loop(self) -> None:
        prev = cpu_jiffies(self._path)
        while not self._stop.wait(self._interval):
            cur = cpu_jiffies(self._path)
            if prev and cur and cur[2] > prev[2]:
                self._pcts.append(100.0 * (cur[1] - prev[1]) / (cur[2] - prev[2]))
            prev = cur

    def stop(self) -> dict:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=self._interval + 5)
        p = self._pcts
        return {
            "samples": len(p),
            "gt1pct": sum(1 for x in p if x > 1.0),
            "max_pct": round(max(p), 2) if p else 0.0,
            "mean_pct": round(sum(p) / len(p), 3) if p else 0.0,
        }


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _process_clock(pid: int) -> int:
    """The clock id of a process's CPU clock (glibc's
    clock_getcpuclockid: CPUCLOCK_SCHED of the whole thread group)."""
    return ((~pid) << 3) | 2


def proc_tree_cpu_s(root: int, proc: str = "/proc") -> float:
    """CPU seconds used so far by process `root` and every process below
    it: each one's own CPU clock (nanosecond resolution, exited threads
    included) plus the CPU of the children it has reaped (clock ticks, from
    /proc/<pid>/stat). Neither holds time the hypervisor stole or time
    spent waiting for a CPU, so the sum measures the work done rather than
    how busy the host was."""
    info: dict[int, tuple[int, list[str]]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(f"{proc}/{name}/stat") as fh:
                raw = fh.read()
        except OSError:  # exited between listdir and open
            continue
        # the fields after the parenthesised command name, which may hold spaces
        f = raw[raw.rindex(")") + 2:].split()
        info[int(name)] = (int(f[1]), f)
    children: dict[int, list[int]] = {}
    for pid, (ppid, _f) in info.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        if pid not in info:
            continue
        f = info[pid][1]
        try:
            own = time.clock_gettime(_process_clock(pid))
        except OSError:  # exited since the scan: its ticks will do
            own = (int(f[11]) + int(f[12])) / _CLK_TCK
        total += own + (int(f[13]) + int(f[14])) / _CLK_TCK
    return total


@functools.cache
def _calibration_inputs():
    import numpy as np

    ints = list(range(50_000))
    random.Random(0).shuffle(ints)
    rng = np.random.default_rng(0)
    big = rng.random(8_000_000)
    return ints, big, rng.integers(0, big.size, 800_000)


def calibrate_s() -> float:
    """Thread CPU seconds of a fixed reference task: how fast this host
    runs a fixed piece of work at this moment. The task sorts 50k
    shuffled ints (branchy interpreter work in cache) and sums 800k
    random elements of a 64 MB array (memory latency), about equal parts
    on a quiet host; a busy neighbour slows both, as it slows the
    program."""
    ints, big, idx = _calibration_inputs()
    t0 = time.thread_time()
    sorted(ints)
    big[idx].sum()
    return time.thread_time() - t0


def cpu_jiffies(path: str = "/proc/stat") -> tuple[int, int, int] | None:
    """(busy, steal, total) jiffies summed over the host's CPUs so far,
    from the aggregate `cpu` line of /proc/stat; None where it is absent."""
    try:
        with open(path) as fh:
            parts = fh.readline().split()
    except OSError:
        return None
    if not parts or parts[0] != "cpu":
        return None
    vals = [int(x) for x in parts[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals[:3]) + sum(vals[5:7]), steal, sum(vals)
