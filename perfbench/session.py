"""Host-sized Spark session for the benchmark, and its clean shutdown."""

from __future__ import annotations

import os
import subprocess
import sys


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def meminfo_mb() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            out[k] = int(v.split()[0]) // 1024
    return out


def driver_memory_mb() -> int:
    """A quarter of physical memory, capped at 4 GiB and at half of what is
    available now; refuse to start below 1 GiB rather than risk the host."""
    mi = meminfo_mb()
    mb = min(mi["MemTotal"] // 4, mi["MemAvailable"] // 2, 4096)
    if mb < 1024:
        sys.exit(f"perfbench: only {mi['MemAvailable']} MB available; "
                 "need at least 2 GB free to size a 1 GB driver")
    return mb // 256 * 256


def start(work_dir: str, root: str):
    """local[nproc], shuffle partitions = nproc, UI and console progress
    off, Arrow on; every scratch file lands under ``work_dir``, and Python
    workers import the program from ``root``."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp            # PySpark's gateway handshake file
    # no hsperfdata files in /tmp, from the launcher JVM or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        o for o in (os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData")
        if o)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    from pyspark.sql import SparkSession
    n = cpus()
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{driver_memory_mb()}m")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(work_dir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the traced run reads every job and stage of the run back from the
        # status store; untraced runs keep the same settings
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()          # the gateway exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
