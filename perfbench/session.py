"""The benchmark's Spark session and its process accounting.

The session runs ``local[nproc]`` with a JVM heap sized from this
machine's RAM, the UI and console progress off, and every temporary
directory (Spark local dirs, JVM and Python temp files) inside the
benchmark's work directory.

Accounting reads ``/proc``: the JVM that backs the session plus every
process below it (the PySpark daemon and its Python workers).  CPU is
``utime + stime + cutime + cstime`` summed over that tree, so workers
that exited and were reaped still count through their parent.  Memory
is the summed RSS of the tree, sampled by a background thread.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def ncpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mb() -> int:
    """A sixteenth of physical RAM, within [512 MiB, 1 GiB]: the
    benchmark's inputs are small and the box is shared.  The heap is
    fixed (initial = maximum), so its resident size does not drift with
    the collector's resizing from run to run."""
    return max(512, min(1024, mem_total_mb() // 16))


def make_spark(root: str, workdir: str):
    """Start the benchmark's only Spark session.  ``root`` (the checkout
    holding ``pyshp_spark``) goes on the Python workers' path."""
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no JVM (the launcher's or the session's) writes perf data to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH", "")
    if root not in path.split(os.pathsep):
        os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")

    from pyspark.sql import SparkSession

    cpus = ncpus()
    heap = heap_mb()
    java_opts = (f"-Xms{heap}m -XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                 f"-Dderby.system.home={tmp}")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap}m")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(workdir, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    """pid of the session's JVM (spark-submit execs into java)."""
    return spark.sparkContext._gateway.proc.pid


def _stat(pid: int):
    """(ppid, cpu ticks incl. reaped children, rss pages) or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces: split after its closing parenthesis
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    ticks = sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return ppid, ticks, int(fields[21])


def tree(root: int) -> dict[int, tuple[int, int]]:
    """{pid: (cpu ticks, rss pages)} for ``root`` and its descendants."""
    info = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                info[int(name)] = st
                children.setdefault(st[0], []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in info:
            out[pid] = info[pid][1:]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    return sum(t for t, _ in tree(root).values()) / _TICK


class RssSampler:
    """Background sampler of the tree's summed RSS, every ``INTERVAL``
    seconds; ``peak_mb`` is the highest sample since start.  The tree's
    membership is re-read every ``RESCAN`` seconds; between rescans only
    its members' ``statm`` files are read, so the sampler stays off the
    op loop's critical path."""

    INTERVAL = 0.1
    RESCAN = 1.0

    def __init__(self, root: int):
        self.root = root
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pids: list[int] = []
        scanned = float("-inf")
        while not self._stop.is_set():
            if time.monotonic() - scanned >= self.RESCAN:
                pids = list(tree(self.root))
                scanned = time.monotonic()
            pages = 0
            for pid in pids:
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        pages += int(f.read().split()[1])
                except OSError:  # exited since the last rescan
                    pass
            self.peak_mb = max(self.peak_mb, pages * _PAGE / 2**20)
            self._stop.wait(self.INTERVAL)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def host_load() -> dict:
    """Host-load control, recorded per run and never gated on:
    single-thread memcpy bandwidth (best of 3) and the 1-minute load."""
    a = np.arange(8_000_000)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        a.copy()
        best = min(best, time.perf_counter() - t0)
    return {"memcpy_gbps": a.nbytes / best / 1e9, "loadavg_1m": os.getloadavg()[0]}
