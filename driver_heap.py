"""Driver heap for the repo's local-mode Spark scripts, sized from RAM.

In local mode the executors run inside the driver JVM, so its heap is
the whole session's memory.  Half the machine's RAM, between 1 GiB and
16 GiB, leaves the other half to the Python workers and the OS.
"""

from __future__ import annotations


def driver_memory() -> str:
    """``spark.driver.memory`` value for this machine, e.g. ``"7858m"``."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                return f"{max(1024, min(16384, total_mb // 2))}m"
    raise RuntimeError("MemTotal missing from /proc/meminfo")
