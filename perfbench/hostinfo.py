"""Host-speed calibration and process-tree memory, read without Spark."""

from __future__ import annotations

import os
import signal
import time

import numpy as np


def nproc() -> int:
    """CPUs this process may run on, as ``nproc`` counts them."""
    return len(os.sched_getaffinity(0))


def calibrate() -> dict:
    """Median wall of a fixed numpy loop (64 products of 192×192 float64
    matrices), with nproc and load1. The host's speed has been seen to
    swing 2-4× between runs of identical code; this number, taken before
    and after a run, says whether a run sat in a slow phase."""
    rng = np.random.default_rng(0)
    a = rng.standard_normal((192, 192))
    walls = []
    for _ in range(5):
        t0 = time.perf_counter()
        b = a
        for _ in range(64):
            b = np.tanh(b @ a * 0.01)
        walls.append(time.perf_counter() - t0)
    walls.sort()
    return {
        "calib_ms": round(walls[2] * 1000, 3),
        "nproc": nproc(),
        "load1": os.getloadavg()[0],
    }


def cpu_times() -> list[int]:
    """The machine's CPU time counters (the ``cpu`` line of /proc/stat,
    in clock ticks): user, nice, system, idle, iowait, irq, softirq,
    steal, ..."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_ratio(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings. Run walls on a shared host follow it: runs
    of identical code that saw ~7% steal took ~40% longer than runs that
    saw none."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return delta[7] / total if total else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_memory(pids: list[int]) -> dict[str, int]:
    """Proportional set size of a process tree (``tree_pids``), by kind:
    ``jvm``, ``python`` (the driver and Spark's Python workers). PSS
    splits pages shared between forked Python workers among them, where
    summing RSS would count them once per worker."""
    out = {"jvm": 0, "python": 0}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/comm") as f:
                kind = "jvm" if f.read().strip() == "java" else "python"
            out[kind] += _pss_bytes(pid)
        except OSError:
            continue
    return out


def start_time(pid: int) -> int | None:
    """Start time of ``pid`` in clock ticks since boot (field 22 of
    /proc/<pid>/stat), or None once it has ended or is a zombie; a pid
    plus its start time names one process even after pid reuse."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    fields = stat[stat.rindex(")") + 2 :].split()
    return None if fields[0] == "Z" else int(fields[19])


def kill_and_wait(procs: dict[int, int], timeout_s: float = 10.0) -> list[int]:
    """SIGKILL every process of ``procs`` ({pid: start time}) that is
    still running and wait until none is; returns the pids that outlived
    ``timeout_s``."""

    def running() -> list[int]:
        return [p for p, t in procs.items() if start_time(p) == t]

    for pid in running():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout_s
    left = running()
    while left and time.monotonic() < deadline:
        time.sleep(0.05)
        left = running()
    return left
