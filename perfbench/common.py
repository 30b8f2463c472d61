"""Helpers shared by the workloads: the run context, timing statistics,
host-load sampling and memory readings."""
from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from .spans import Tracer


@dataclass
class Ctx:
    """What a workload gets: the session, where to write, the seed and
    the time it may measure for, plus the failure ledger."""

    spark: object
    seed: int
    seconds: float
    data_dir: str
    work_dir: str
    manifest: dict
    tracer: Tracer = field(default_factory=Tracer)
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)

    def attempt(self, what: str, fn, *args, **kwargs):
        """Run one operation; a raised error counts as a failed operation
        and returns None."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as e:  # the run goes on; the failure is counted
            self.fail(what, f"{type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
            return None

    def check(self, what: str, ok: bool, detail: str = "") -> bool:
        """One output check: counted as an operation, failed if not ok."""
        self.attempted += 1
        if not ok:
            self.fail(what, detail)
        return ok

    def fail(self, what: str, detail: str) -> None:
        self.failed += 1
        self.failures.append(f"{what}: {detail}"[:500])
        print(f"FAILED {what}: {detail}"[:2000], file=sys.stderr)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, and its
    label. Below 21 samples no percentile above the median has ten beyond
    it, and the maximum (``p100``) is reported instead."""
    xs = sorted(xs)
    n = len(xs)
    if n < 21:
        return (xs[-1] if xs else 0.0), f"p100 of {n}"
    idx = n - 11  # ten samples lie beyond this one
    return xs[idx], f"p{100.0 * (idx + 1) / n:.0f} of {n}"


class Budget:
    """Whole units while the next one, as long as the last, still ends
    within the measured time; at least ``least``."""

    def __init__(self, seconds: float, least: int = 1):
        self.end = time.perf_counter() + seconds
        self.least = least
        self.n = 0
        self.last = 0.0

    def more(self) -> bool:
        return self.n < self.least or time.perf_counter() + self.last <= self.end

    def done(self, dur: float) -> None:
        self.n += 1
        self.last = dur


def _cpu_snap() -> list[int] | None:
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


class HostLoad:
    """Busy and steal percentages of the whole host between start and
    stop, from /proc/stat. Recorded with the result, never a gate."""

    def __init__(self):
        self.a = _cpu_snap()

    def stop(self) -> dict | None:
        b = _cpu_snap()
        if self.a is None or b is None:
            return None
        # first 8 fields: guest time is already folded into user/nice
        d = [y - x for x, y in zip(self.a[:8], b[:8])]
        tot = sum(d) or 1
        return {
            "busy_pct": round(100 * (tot - d[3] - d[4] - d[7]) / tot, 1),
            "steal_pct": round(100 * d[7] / tot, 1),
        }


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, with reaped children) of a process and
    all its live descendants: here the benchmark, the Spark JVM and its
    Python workers. Time the hypervisor steals is not in it, so it holds
    still on a shared host where wall time does not."""
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(d)
        kids.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    return total / _TICK


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return getattr(proc, "pid", None)
