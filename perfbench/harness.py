"""Timing, statistics and host-context helpers shared by the workloads."""

from __future__ import annotations

import math
import os
import statistics
import time
from collections import defaultdict

import numpy as np


def materialize(df) -> None:
    """The timed action: compute every output column and discard it.
    ``count()`` would let Catalyst prune the projections; the noop sink
    evaluates the full plan and collects nothing to the driver."""
    df.write.format("noop").mode("overwrite").save()


def timed_action_is_honest(spark) -> bool:
    """True when the timed action evaluates an output projection: a
    column wrapping ``assert_true(false)`` must fail under it (under
    ``count()`` Catalyst prunes the column and the query succeeds)."""
    from pyspark.sql import functions as F

    df = spark.range(0, 4, 1, 1).select(F.assert_true(F.lit(False)).alias("boom"), "id")
    spark.sparkContext.setLogLevel("OFF")  # the expected task failures
    try:
        materialize(df)
    except Exception:  # noqa: BLE001 - any failure proves the column ran
        return True
    finally:
        spark.sparkContext.setLogLevel("WARN")
    return False


def timed(fn, *args, **kw) -> tuple[object, float]:
    t0 = time.perf_counter()
    out = fn(*args, **kw)
    return out, time.perf_counter() - t0


def repeated(k: int, fn, *args) -> tuple[object, float, float]:
    """Run a set-up step ``k`` times: ``(last result, median seconds,
    total seconds)``, so set-up time reports the step's median."""
    times = []
    for _ in range(k):
        out, s = timed(fn, *args)
        times.append(s)
    return out, statistics.median(times), sum(times)


def tail_pct(n: int) -> int:
    """The highest whole percentile that leaves at least ten samples
    above it at ``n`` samples; the median when fewer than 20."""
    return max(50, math.floor(100 * (n - 10) / n)) if n else 50


def pct(values: list[float], p: float) -> float:
    """Percentile by linear interpolation between closest ranks (the
    median at p=50)."""
    s = sorted(values)
    pos = p / 100 * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def latency_summary(values: list[float]) -> dict[str, float]:
    p = tail_pct(len(values))
    return {"gmean": statistics.geometric_mean(values), "p50": pct(values, 50),
            "tail": pct(values, p), "tail_pct": p, "n": len(values)}


_CLK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process under it: the driver JVM, the Python workers and their
    reaped children. Time the hypervisor steals is charged to none of
    them; contention for caches and memory on a busy host still raises
    it, but less than it raises wall time."""
    kids: dict[int, list[int]] = defaultdict(list)
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after the command name: state, ppid, ... utime, stime,
        # cutime, cstime (fields 14-17 of proc(5))
        rest = stat[stat.rindex(")") + 2:].split()
        kids[int(rest[1])].append(int(d))
        ticks[int(d)] = sum(int(v) for v in rest[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += kids.get(pid, [])
    return total / _CLK


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:
                pass
    return total


# ------------------------------------------------------------- host


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of this Python process plus the driver JVM."""
    kb = _vm_hwm_kb("self") + (_vm_hwm_kb(jvm_pid) if jvm_pid else 0)
    return kb / 1024.0


def _cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals[:8])


class HostProbe:
    """Host context recorded with every run: a fixed CPU-bound loop, a
    memory-copy bandwidth reading, and the steal share over the run."""

    def __init__(self) -> None:
        self._steal0, self._total0 = _cpu_ticks()

    @staticmethod
    def calib_cpu_s() -> float:
        t0 = time.perf_counter()
        acc = 0
        for i in range(2_000_000):
            acc += i * i % 7
        return time.perf_counter() - t0

    @staticmethod
    def membw_gbs() -> float:
        src = np.ones(16 * 1024 * 1024 // 8 * 4)  # 64 MiB
        dst = np.empty_like(src)
        best = math.inf
        for _ in range(5):
            t0 = time.perf_counter()
            np.copyto(dst, src)
            best = min(best, time.perf_counter() - t0)
        return 2 * src.nbytes / best / 1e9

    def steal_frac(self) -> float:
        steal, total = _cpu_ticks()
        dt = total - self._total0
        return (steal - self._steal0) / dt if dt else 0.0

    def metrics(self) -> dict[str, float]:
        return {"host.calib_cpu_s": self.calib_cpu_s(), "host.membw_gbs": self.membw_gbs(),
                "host.steal_frac": self.steal_frac()}
