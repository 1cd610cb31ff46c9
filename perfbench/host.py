"""Host record and process memory, read from /proc."""

from __future__ import annotations

import os
import platform


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate cpu line. Total sums the
    first 8 fields only: guest and guest_nice are already counted inside
    user and nice, so adding them again would inflate the denominator."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


def reset_peak_rss() -> None:
    """Reset this process's VmHWM to its current resident set, so a later
    `peak_rss_mb()` covers only what ran in between."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def peak_rss_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"VmHWM missing for pid {pid}")


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def record(spark, steal_before: tuple[int, int]) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm.java.lang.System
    return {
        "nproc": nproc(),
        "master": spark.sparkContext.master,
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "pyspark": pyspark.__version__,
        "java": str(jvm.getProperty("java.version")),
        "python": platform.python_version(),
        "loadavg": list(os.getloadavg()),
        "steal_pct": round(steal_pct(steal_before, cpu_times()), 3),
    }
