"""Shared harness: environment pinning, the Spark session, Spark job
groups, on-disk sizes and the median."""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# every file the benchmark generates lives here (ignored by git)
WORK = os.path.join(ROOT, ".perfbench_work")


class GateError(Exception):
    """An operation's output did not match its oracle."""


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def physical_mem_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_mb() -> int:
    """Driver heap: a quarter of physical RAM, at most 4 GiB. The engine's
    own default (16g) exceeds small machines' RAM, and local mode runs
    every task inside this one heap."""
    return min(4096, physical_mem_mb() // 4)


def pin_env() -> None:
    """Pin the knobs the engine reads from the environment, and keep
    every temporary file of the driver, the JVM and the Python workers
    under WORK. Must run before the session starts."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc()),
        "CCSPARK_DRIVER_MEM": f"{driver_mem_mb()}m",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
    })
    import tempfile
    tempfile.tempdir = tmp


def start_spark():
    """The engine's own session builder, at local[nproc], with the
    console progress bar off and scratch space under WORK."""
    from ccspark import get_spark
    tmp = os.environ["TMPDIR"]
    return get_spark(
        "perfbench", master=f"local[{nproc()}]",
        extra={"spark.ui.showConsoleProgress": "false",
               "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
               "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
               "spark.driver.extraJavaOptions":
                   f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"})


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM it launched and wait for it."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()   # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, names in os.walk(path):
        for n in names:
            p = os.path.join(base, n)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def table_bytes(state_dir: str) -> dict[str, int]:
    """Bytes on disk per top-level entry (table) of a state directory."""
    out = {}
    for n in sorted(os.listdir(state_dir)):
        p = os.path.join(state_dir, n)
        out[n] = dir_bytes(p) if os.path.isdir(p) else os.path.getsize(p)
    return out


def median(xs) -> float:
    return float(statistics.median(xs))


def median_wall(fn, reps: int, warmup: int = 0) -> float:
    """Median wall seconds of `reps` calls of `fn`, after `warmup` untimed
    calls (the first calls of a query compile its code and run slower)."""
    for _ in range(warmup):
        fn()
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return median(walls)


@contextlib.contextmanager
def job_group(spark, name: str):
    """Tag every Spark job started inside the block with the job group
    `name`; yields a callable giving the group's job count."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield lambda: len(sc.statusTracker().getJobIdsForGroup(name))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
