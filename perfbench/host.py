"""Host evidence: calibration loops, load, steal share and process memory.

Everything here is recorded next to the measurements so a run made while
the host was slower than usual can be told apart afterwards.  None of it
is used to correct a measurement: the calibration loops themselves vary
by tens of percent between quiet runs.
"""

from __future__ import annotations

import os
import statistics
import time

CPU_LOOP_N = 400_000
SPARK_CALIB_ROWS = 4_000_000
REPEATS = 3  # calibration samples; the median is reported


def cpu_calibration() -> float:
    """Median seconds of a fixed single-threaded Python loop."""
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        acc = 0
        for i in range(CPU_LOOP_N):
            acc += (i * i) % 7
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def spark_calibration(spark) -> float:
    """Median seconds of a fixed Spark aggregation over generated rows."""
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        spark.range(0, SPARK_CALIB_ROWS, 1, 4).selectExpr(
            "sum(id % 7)"
        ).collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user/nice
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def steal_fraction(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total > 0 else 0.0


def load1() -> float:
    try:
        return os.getloadavg()[0]
    except OSError:
        return 0.0


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (OSError, ValueError, IndexError):
        pass
    return 0.0


def snapshot(spark) -> dict:
    """One calibration sample: CPU loop, Spark aggregation, load1."""
    return {
        "calib_cpu_s": cpu_calibration(),
        "calib_spark_s": spark_calibration(spark),
        "load1": load1(),
    }
