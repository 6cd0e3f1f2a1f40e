"""Process-level readings from ``/proc`` and the run context.

Executor CPU time in Spark's status store leaves out the PySpark worker
processes (Arrow/pandas UDFs, Python data sources), so their CPU is read
here, from the JVM's descendant processes. Peak memory is the sum of VmHWM
over the driver Python process, the JVM and those workers.
"""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            text = fh.read()
    except OSError:  # the process ended while we looked
        return None
    return text[text.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """All live descendants of ``root``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat(int(entry))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def worker_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's descendant processes, reaped children
    included (the PySpark daemon reaps the workers it forks)."""
    total = 0
    for pid in descendants(jvm_pid):
        fields = _stat(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14..17 of /proc/pid/stat
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    pids = [os.getpid(), jvm_pid, *descendants(jvm_pid)]
    return sum(_hwm_kb(p) for p in pids) / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat.
    Steal is time the hypervisor gave this machine's CPUs to other guests."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def _source_digest(root: str) -> str:
    h = hashlib.sha256()
    pkg = os.path.join(root, "parquet_export_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _commit(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def cpu_probe(spark) -> dict[str, float]:
    """Fixed-work machine-speed probe (not a metric): a whole-stage-codegen
    hash sum on all cores and a single-thread CPython hash loop. A slow
    machine day moves the probe; a regression moves the metrics alone."""
    spark._jvm.System.gc()
    t0 = time.perf_counter()
    spark.range(50_000_000).selectExpr("sum(xxhash64(id)) AS s").collect()
    jvm = time.perf_counter() - t0
    t0 = time.perf_counter()
    h = b"perfbench-cpu-probe"
    for _ in range(60_000):
        h = hashlib.md5(h).digest()
    return {"jvm_s": jvm, "py_s": time.perf_counter() - t0}


def run_context(spark, root: str, nproc: int) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "commit": _commit(root),
        "source_digest": _source_digest(root),
        "nproc": nproc,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "cpu_probe": cpu_probe(spark),
    }
