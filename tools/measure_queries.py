#!/usr/bin/env python
"""Per-query A/B measurement harness for optimization rounds.

Runs the named queries with the SAME session config as bench.py (including
its warmups), times fn(spark, sf_dir) + df.count() twice per query
(reporting single and min-of-2), and optionally writes
``.explain("formatted")`` output to <plans_dir>/<query>_<tag>.txt.

Usage:
  python tools/measure_queries.py [--sf DIR] [--plans-dir DIR --tag before]
                                  query [query ...]

Prints one JSON line: {"queries": {name: {"single": s, "min2": s}},
"loadavg": [...]}.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--tag", default=None)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from bench import driver_memory
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("flink_ml_spark_measure")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.driver.memory", driver_memory())
        .config("spark.driver.extraJavaOptions",
                "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from flink_ml_spark.queries import queries_dict
    queries = queries_dict()

    # bench.py's warmups, abbreviated: JVM agg + Arrow UDF pool + RDD pool
    spark.range(1000).selectExpr("sum(id)").collect()
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _wu(s):
        import numpy as np
        import pandas as pd
        import pyarrow as pa  # noqa: F401
        return pd.Series(np.minimum.reduceat(s.to_numpy(), [0]).repeat(len(s)))
    spark.range(int(cpus) * 100).repartition(int(cpus)).select(_wu("id")).count()
    spark.range(int(cpus) * 10).repartition(int(cpus)) \
        .select(F.explode(F.split(F.lit("a b c"), " ")).alias("t")) \
        .groupBy("t").count().count()

    def _wu_rdd(it):
        import numpy as np
        yield np.zeros(2).sum()
    spark.sparkContext.parallelize(range(int(cpus) * 4), int(cpus)) \
        .mapPartitions(_wu_rdd).count()

    out: dict[str, dict] = {}
    for name in args.queries:
        fn = queries.get(name)
        if fn is None:
            out[name] = {"error": "unknown"}
            continue
        times = []
        for rep in range(max(1, args.reps)):
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            t0 = time.time()
            try:
                df = fn(spark, args.sf)
                df.count()
                times.append(round(time.time() - t0, 3))
            except Exception as e:
                out[name] = {"error": str(e)[:300]}
                df = None
                break
            if rep == 0 and args.plans_dir and args.tag:
                os.makedirs(args.plans_dir, exist_ok=True)
                try:
                    plan = df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted")
                except Exception:
                    plan = df._jdf.queryExecution().explainString(
                        df._sc._jvm.org.apache.spark.sql.execution
                        .ExplainMode.fromString("formatted"))
                with open(os.path.join(args.plans_dir,
                                       f"{name}_{args.tag}.txt"), "w") as f:
                    f.write(plan)
            df = None
            gc.collect()
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
        if name not in out:
            out[name] = {"single": times[0], "min2": min(times)}
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({"queries": out,
                      "loadavg": list(os.getloadavg()),
                      "sf": args.sf}))


if __name__ == "__main__":
    main()
