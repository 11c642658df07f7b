#!/usr/bin/env python
"""Scaling-slope probe, part 9: ALS.

Each ALS half-step is ONE content-keyed join (ratings ⋈ factors) plus
ONE map-side-combined groupBy emitting r(r+1)/2+r integer sums per
entity, then per-entity solve arithmetic — so total fit time should
grow ~linearly in the rating count at fixed rank/iterations, and the
factor relations (user-/item-sized) never approach the ratings volume.

Also re-asserts the fixed-point determinism claim at probe scale: two
fits of the same data under different partitionings must produce
byte-identical factor relations.

Same contract as parts 1-8: increasing sizes, near-linear slopes =
the "holds at 1000x" answer.  Run on a clean host.

Usage: python tools/scale_probe9.py [sizes ...] (default 200000 2000000)
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])

SIZES = [int(a) for a in sys.argv[1:]] or [200_000, 2_000_000]


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

    from flink_ml_spark.recommendation import ALS

    results = {}
    for n in SIZES:
        n_users, n_items = n // 50, n // 100
        ratings = (spark.range(n)
                   .select((F.pmod(F.hash(F.col("id")), F.lit(n_users)))
                           .alias("user"),
                           (F.pmod(F.hash(F.col("id") + 1),
                                   F.lit(n_items))).alias("item"),
                           (1.0 + F.pmod(F.hash(F.col("id") + 2),
                                         F.lit(40)).cast("double"))
                           .alias("rating"))
                   .groupBy("user", "item")
                   .agg(F.avg("rating").alias("rating"))
                   .localCheckpoint())
        cnt = ratings.count()
        r = {"ratings": int(cnt)}
        t0 = time.time()
        m = ALS(rank=2, maxIter=3, regParam=0.1).fit(ratings)
        r["fit_rank2_3it"] = round(time.time() - t0, 2)
        t0 = time.time()
        m.transform(ratings)[0].agg(F.sum("prediction")).collect()
        r["score_all"] = round(time.time() - t0, 2)
        # determinism at probe scale: same data, different partitioning
        m2 = ALS(rank=2, maxIter=3, regParam=0.1).fit(
            ratings.repartition(13))
        diff = (m.user_factors.join(
                    m2.user_factors.withColumnRenamed("f0", "g0")
                    .withColumnRenamed("f1", "g1"), "u")
                .filter("f0 <> g0 OR f1 <> g1").count())
        r["factor_mismatches"] = int(diff)
        results[n] = r
        print(f"n={n}: {r}", flush=True)

    print(json.dumps({"probe": "als_linear_and_deterministic",
                      "results": results}))


if __name__ == "__main__":
    main()
