"""Small measurement helpers: order statistics, memory and disk usage."""

from __future__ import annotations

import math
import os
import resource
import statistics


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(values: list[float]) -> tuple[float, int, int] | None:
    """The highest percentile with at least ten samples beyond it, as
    ``(value, percentile, sample_count)``; ``None`` below 11 samples."""
    n = len(values)
    if n < 11:
        return None
    ordered = sorted(values)
    return ordered[n - 11], math.floor(100 * (n - 10) / n), n


def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def count_files(path: str, suffix: str) -> int:
    return sum(
        1 for _, _, files in os.walk(path) for f in files if f.endswith(suffix)
    )


def peak_rss_mb(jvm_pid: int | None) -> float:
    """High-water resident set of this Python process plus the driver
    JVM, in MiB."""
    py_kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kib = 0
    if jvm_pid is not None:
        with open(f"/proc/{jvm_pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kib = int(line.split()[1])
    return (py_kib + jvm_kib) / 1024.0


def process_cpu_s(pid: int) -> float:
    """User + system CPU seconds a process has used so far."""
    with open(f"/proc/{pid}/stat", encoding="ascii") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def jvm_gc_s(spark) -> float:
    """Total collection time of the driver JVM's garbage collectors."""
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def machine() -> dict:
    """What the run was pinned to and how busy the box was."""
    try:
        mem_kib = next(
            int(line.split()[1])
            for line in open("/proc/meminfo", encoding="ascii")
            if line.startswith("MemTotal:")
        )
    except (OSError, StopIteration):
        mem_kib = 0
    return {
        "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "local_dirs": os.environ.get("SPARK_LOCAL_DIRS"),
        "mem_total_gib": round(mem_kib / 1024 / 1024, 1),
        "load_avg_1m": os.getloadavg()[0],
    }
