#!/usr/bin/env python
"""Scaling-slope probe, part 10: the tree family.

A depth-d histogram tree is d corpus scans, each emitting ≤
nodes·features·bins rows (model-sized) — so fit time should grow
~linearly in rowcount at fixed depth/bins, GBT in rounds × that, and
the forest in trees × subsample.  Also re-asserts the determinism
claim at probe scale: refitting under a different partitioning must
produce byte-identical trees.

Same contract as parts 1-9: increasing sizes, near-linear slopes =
the "holds at 1000x" answer.  Run on a clean host.

Usage: python tools/scale_probe10.py [sizes ...] (default 500000 5000000)
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])

SIZES = [int(a) for a in sys.argv[1:]] or [500_000, 5_000_000]


def main() -> None:
    from pyspark.sql import SparkSession, functions as F

    from bench import driver_memory

    spark = (SparkSession.builder.master("local[32]")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.driver.memory", driver_memory())
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()  # warmup

    from flink_ml_spark.regression import (DecisionTreeRegressor,
                                           GBTRegressor,
                                           RandomForestRegressor)

    results = {}
    for n in SIZES:
        df = (spark.range(n)
              .select(F.col("id").alias("rid"),
                      F.array(
                          (F.pmod(F.hash("id"), F.lit(1000)) / 1000.0),
                          (F.pmod(F.hash(F.col("id") + 1), F.lit(997))
                           / 997.0),
                          (F.pmod(F.hash(F.col("id") + 2), F.lit(991))
                           / 991.0)).alias("features"))
              .withColumn("label",
                          3.0 * F.col("features")[0]
                          + 2.0 * F.col("features")[1]
                            * F.col("features")[1]
                          + F.pmod(F.hash("rid"), F.lit(83))
                          .cast("double") / 83.0)
              .localCheckpoint())
        r = {}
        t0 = time.time()
        m = DecisionTreeRegressor(maxDepth=4, maxBins=32,
                                  labelScale=4).fit(df)
        r["tree_d4"] = round(time.time() - t0, 2)
        t0 = time.time()
        GBTRegressor(numTrees=3, maxDepth=3, labelScale=4).fit(df)
        r["gbt_3x_d3"] = round(time.time() - t0, 2)
        t0 = time.time()
        RandomForestRegressor(numTrees=3, maxDepth=3, idCol="rid",
                              labelScale=4).fit(df)
        r["rf_3x_d3"] = round(time.time() - t0, 2)
        m2 = DecisionTreeRegressor(maxDepth=4, maxBins=32,
                                   labelScale=4).fit(df.repartition(13))
        r["tree_mismatch"] = int(
            m.model_data["nodes"] != m2.model_data["nodes"])
        results[n] = r
        print(f"n={n}: {r}", flush=True)

    print(json.dumps({"probe": "tree_family_linear_and_deterministic",
                      "results": results}))


if __name__ == "__main__":
    main()
