"""Small measurement helpers: mix-weighted latency, ratios with their base, a
host-speed sample, and the CPU time and a memory sampler of a process tree.

Pure standard library plus numpy; nothing here imports Spark.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time


def ratio(num: float, den: float) -> dict:
    """A ratio together with the base it was taken over. A zero base
    gives value None rather than a made-up number."""
    return {"value": (num / den) if den else None, "num": num, "den": den}


def mix_latency(lat, kinds, mix: dict[str, int]) -> tuple[float, float]:
    """(weighted median, weighted mean) latency of a request mix: each
    kind's median (mean) weighted by its share of the mix. Unlike the
    median over all requests, neither jumps when a run ends a request
    earlier or later in the interleave."""
    total = sum(mix.values())
    p50 = mean = 0.0
    for kind, w in mix.items():
        xs = [t for t, k in zip(lat, kinds) if k == kind]
        if not xs:
            raise ValueError(f"no {kind} request was timed")
        p50 += w / total * statistics.median(xs)
        mean += w / total * statistics.fmean(xs)
    return p50, mean


def gemm_sample(n: int = 1200, reps: int = 3) -> float:
    """Host-speed sample: best wall seconds of a fixed, seeded n x n
    float64 GEMM. Run with BLAS pinned to one thread, it labels runs
    slowed by neighbours on the host; it is never used to normalize."""
    import numpy as np

    a = np.random.default_rng(0).random((n, n))
    a @ a  # warm the BLAS code path
    best = math.inf
    for _ in range(reps):
        t0 = time.perf_counter()
        a @ a
        best = min(best, time.perf_counter() - t0)
    return best


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we walked /proc
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    raise OSError(f"no Pss line for pid {pid}")


def tree_pss_bytes(root_pid: int) -> dict[str, int]:
    """Proportional set size (resident memory, each page shared between
    processes split among them) of root_pid and all its descendants,
    summed by command name (driver, java, python3, ...). Plain RSS would
    count pages twice: those the Python workers share after forking
    from their daemon, and the whole JVM for the instant between a fork
    and the exec of the program it launches."""
    kids = _children_map()
    out: dict[str, int] = {}
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            pss = _pss_bytes(pid)
            with open(f"/proc/{pid}/comm") as f:
                name = "driver" if pid == root_pid else f.read().strip()
        except OSError:  # the process ended while we walked the tree
            continue
        out[name] = out.get(name, 0) + pss
    return out


def tree_cpu_seconds(root_pid: int) -> float:
    """CPU seconds (user + system, with those of reaped children) used
    so far by root_pid and all its descendants. Time the hypervisor
    stole from the machine is not in it."""
    kids = _children_map()
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we walked the tree
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick


class MemorySampler:
    """Samples the proportional set size of this process tree (Python
    driver, the JVM it launched, and the JVM's Python workers) on a
    background thread; ``peak`` is the largest sum seen and
    ``peak_by_name`` its split by command name. ``cpu_s`` is the CPU
    time the sampling thread itself has used."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self.peak_by_name: dict[str, int] = {}
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="memory-sampler", daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            by_name = tree_pss_bytes(pid)
            total = sum(by_name.values())
            if total > self.peak:
                self.peak, self.peak_by_name = total, by_name
            self.cpu_s = time.thread_time()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("memory sampler thread did not stop")
