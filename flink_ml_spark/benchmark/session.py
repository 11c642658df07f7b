"""The one Spark session setup, warm-up and timed-entry loop shared by
``bench.py``, ``tools/`` and the workload-matrix runner.

``session()`` applies what every harness needs (UTC time zone, UI and
console progress off, host-sized driver memory, ERROR log level);
``BENCH_CONF`` adds the timing-harness settings that ``bench.py`` and
``tools/measure_queries.py`` share, so their numbers come from the same
session.
"""

from __future__ import annotations

import gc
import os
import sys
import time

BENCH_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # split small single-file scans across cores (no shuffle, pushdown
    # kept); production-scale inputs are already multi-file
    "spark.sql.files.maxPartitionBytes": "8m",
    "spark.sql.files.openCostInBytes": "1m",
    # 65+ queries × dozens of generated classes each: the default 240 MB
    # JIT code cache fills mid-session, silently disabling compilation and
    # inflating every later query (the warning is hidden at ERROR level)
    "spark.driver.extraJavaOptions":
        "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def host_cpus() -> int:
    """$SPARK_GRAFT_CPUS when set, else the cores this process may run on
    (not ``nproc``, which follows $OMP_NUM_THREADS)."""
    if os.environ.get("SPARK_GRAFT_CPUS"):
        return int(os.environ["SPARK_GRAFT_CPUS"])
    return len(os.sched_getaffinity(0))


def meminfo_mib() -> dict[str, int]:
    """``/proc/meminfo`` in MiB."""
    mib = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            mib[k] = int(v.split()[0]) // 1024  # kB -> MiB
    return mib


def driver_memory() -> str:
    """``spark.driver.memory``: $SPARK_GRAFT_MEM when set, else a quarter
    of ``MemTotal`` capped at half of ``MemAvailable`` (/proc/meminfo), so
    the default fits the host it runs on; below 1 GiB it refuses to
    start rather than risk the host."""
    if os.environ.get("SPARK_GRAFT_MEM"):
        return os.environ["SPARK_GRAFT_MEM"]
    mib = meminfo_mib()
    mb = min(mib["MemTotal"] // 4, mib["MemAvailable"] // 2)
    if mb < 1024:
        sys.exit(f"driver memory: {mb} MiB (MemTotal/4, MemAvailable/2) "
                 "is below 1 GiB; free memory or set SPARK_GRAFT_MEM")
    return f"{mb}m"


def session(app: str, cpus: int | None = None, partitions: int | None = None,
            conf: dict[str, str] | None = None):
    """``local[cpus]`` (default ``host_cpus()``) with ``partitions`` shuffle
    partitions (default ``cpus``), plus ``conf``."""
    from pyspark.sql import SparkSession

    cpus = cpus or host_cpus()
    b = (SparkSession.builder.master(f"local[{cpus}]").appName(app)
         .config("spark.sql.shuffle.partitions", str(partitions or cpus))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.driver.memory", driver_memory())
         .config("spark.ui.enabled", "false")
         # stage-progress bars write \r-terminated fragments to stdout that
         # can splice into the same physical line as a JSON print,
         # corrupting a line-oriented parser's view of the artifact
         .config("spark.ui.showConsoleProgress", "false"))
    for k, v in (conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, cpus: int) -> None:
    """JVM/codegen and Python-worker warm-up, excluded from timings."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    # touch numpy/pandas/pyarrow in every reused worker so no query pays
    # the first-import cost (steady-state throughput, as in the
    # reference's single-session harness)
    spark.range(1000).selectExpr("sum(id)").collect()

    @pandas_udf("long")
    def _wu(s):
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        a = np.asarray(["warm"] * 4, dtype="U").view(np.uint32)
        pa.ListArray.from_arrays(pa.array(np.array([0, 2], dtype=np.int32)),
                                 pa.array(np.zeros(2)))
        return pd.Series(np.minimum.reduceat(s.to_numpy(), [0]).repeat(len(s)))
    spark.range(cpus * 100).repartition(cpus).select(_wu("id")).count()

    # JIT-compile the generate/shuffle codegen templates the text queries
    # hit first (explode over split crossing an exchange) — one-time JVM
    # compilation, not data work
    spark.range(cpus * 10).repartition(cpus) \
        .select(F.explode(F.split(F.lit("a b c"), " ")).alias("t")) \
        .groupBy("t").count().count()

    # the plain-pickle RDD worker pool (block-cache learners) is separate
    # from the Arrow UDF pool — warm it too
    def _wu_rdd(it):
        import numpy as np
        yield np.zeros(2).sum()
    spark.sparkContext.parallelize(range(cpus * 4), cpus) \
        .mapPartitions(_wu_rdd).count()


def run_isolated(spark, fn, sf: str, inspect=None) -> float:
    """Seconds for ``fn(spark, sf)`` plus a full ``count()``, rounded to ms.
    ``inspect(df)``, if given, runs after the timed region.

    Whether or not ``fn`` raises, the entry's residue is dropped afterwards,
    outside the timed region, so one entry cannot inflate the next one's
    wall time (measured 11.9s -> 71.7s on logistic_regression after the
    pandas-cogroup pipelines without this).  The Python-side result is
    released FIRST: localCheckpoint blocks are not catalog-cached, so they
    free only when the ContextCleaner sees the RDD unreachable."""
    df = None
    try:
        t0 = time.time()
        df = fn(spark, sf)
        df.count()
        secs = round(time.time() - t0, 3)
        if inspect is not None:
            inspect(df)
        return secs
    finally:
        df = None
        gc.collect()
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
