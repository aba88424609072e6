"""Spark session profile for the benchmark, plus the process tree under it.

One profile for every workload: ``local[<cores>]`` with shuffle partitions
tied to the core count, driver memory well under physical RAM, and every
scratch directory (Spark local dirs, warehouse, JVM and Python temp files)
inside the run's own work directory so that a run leaves nothing behind
outside the checkout and starts from a fresh state dir.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time
from typing import Dict, List

PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20
CLK_TCK = os.sysconf("SC_CLK_TCK")


def cores() -> int:
    """Cores this process may run on (``nproc`` without OMP overrides)."""
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """A quarter of physical RAM, capped at 1 GiB: the benchmark inputs are
    tens of MB, and the box is shared."""
    total_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    return int(min(1024, total_mb // 4))


def isolate_env(work: str, package_root: str) -> None:
    """Point every temp-file user at *work* and let Python workers import
    the package.  Must run before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = package_root + (os.pathsep + path if path else "")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start(work: str, n_cores: int):
    from pyspark.sql import SparkSession

    java_opts = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData -XX:+UseParallelGC"
    spark = (
        SparkSession.builder.master(f"local[{n_cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(2 * n_cores))
        .config("spark.default.parallelism", str(2 * n_cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.driver.memory", f"{driver_memory_mb()}m")
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def stop(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, close the gateway JVM and wait until it and every
    Python worker under it have exited."""
    sc = spark.sparkContext
    proc = sc._gateway.proc
    pids = descendants(proc.pid) + [proc.pid]
    spark.stop()
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway exits on EOF of its stdin
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=timeout_s)
    deadline = time.time() + timeout_s
    for pid in pids:
        while _alive(pid):
            if time.time() > deadline:
                os.kill(pid, signal.SIGKILL)
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


def _children_map() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> List[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _stat(pid: int):
    """(utime+stime s, cutime+cstime s, rss MB) of *pid*, or None."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
    except (FileNotFoundError, ProcessLookupError):
        return None
    return (
        (int(f[11]) + int(f[12])) / CLK_TCK,
        (int(f[13]) + int(f[14])) / CLK_TCK,
        int(f[21]) * PAGE_MB,
    )


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs:
    a slow run on a shared box shows here."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / CLK_TCK


def tree_rss_mb(root: int) -> float:
    total = 0.0
    for pid in [root] + descendants(root):
        st = _stat(pid)
        if st:
            total += st[2]
    return total


def cpu_split(jvm: int) -> Dict[str, float]:
    """CPU seconds of the JVM itself and of the Python worker tree under it
    (live workers plus the reaped ones their daemon has accounted for)."""
    st = _stat(jvm)
    py = 0.0
    for pid in descendants(jvm):
        s = _stat(pid)
        if s:
            py += s[0] + s[1]
    return {"jvm": st[0] if st else 0.0, "python": py}
