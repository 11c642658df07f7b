#!/usr/bin/env python
"""Scaling-slope probe: run the headline dedup/corpus operators on
synthetic corpora at increasing row counts (default 5k / 50k / 500k) and
report wall time per size.  The synthetic corpus is deliberately HOSTILE:
one domain holds 70% of the rows (stratified-budget hot-domain path), a
boilerplate sentence is injected into 30% of documents (hot LSH bucket /
hot span), and 5% of documents are near-duplicate clones (real dedup
work).  A near-linear slope across the decades — with the caps and hot-key
paths engaged — is the measurable form of the "would this hold at 1000x"
question; a super-linear blowup flags a hot-key or driver-side bottleneck.

Usage: python tools/scale_probe.py [sizes ...]   (row counts, default
5000 50000 500000)
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])

SIZES = [int(a) for a in sys.argv[1:]] or [5_000, 50_000, 500_000]

BOILER = ("all rights reserved redistribution of this document requires "
          "the written permission of the publisher and its licensors")


def make_corpus(spark, n: int):
    from pyspark.sql import functions as F
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        # 70% hot domain, the rest spread across 9 cold ones
        F.when(F.col("id") % 10 < 7, "web")
         .otherwise(F.concat(F.lit("src"), (F.col("id") % 10).cast("string")))
        .alias("source"))
    # deterministic ~60-token text from the id; ~5% near-dup clones
    seedc = F.when(F.col("doc_id") % 19 == 0,
                   F.col("doc_id") - F.col("doc_id") % 97) \
        .otherwise(F.col("doc_id"))
    # murmur3-mixed (doc, position) tokens over a 5k vocab: independent
    # across documents (an arithmetic token schedule accidentally makes
    # shifted near-copies of every doc pair — measured quadratic pair
    # blowup), so near-dups are only the intentional clones
    words = F.concat_ws(" ", F.transform(
        F.sequence(F.lit(0), F.lit(59)),
        lambda i: F.concat(F.lit("w"),
                           F.pmod(F.hash(seedc, i), F.lit(5000))
                           .cast("string"))))
    text = F.when(F.col("doc_id") % 10 < 3,
                  F.concat(words, F.lit(" " + BOILER))).otherwise(words)
    return base.withColumn("text", text)


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

    from flink_ml_spark.llmdata import (DuplicateSpanRemover,
                                        MinHashLSHDeduplicator,
                                        StratifiedBudgetSampler)

    results: dict[str, dict[int, float]] = {}
    for n in SIZES:
        docs = make_corpus(spark, n).repartition(32).localCheckpoint(
            eager=True)

        def timed(name, fn):
            t0 = time.time()
            out = fn()
            cnt = out.count()
            dt = round(time.time() - t0, 2)
            results.setdefault(name, {})[n] = dt
            print(f"n={n:>7} {name:24s} {dt:7.2f}s  ({cnt} rows)",
                  flush=True)

        timed("minhash_dedup_blocked", lambda: MinHashLSHDeduplicator(
            idCol="doc_id", textCol="text", shingleSize=3, numHashes=16,
            bandSize=4, threshold=0.5, seed=7)
            .set_(maxBandDocFreq=64, hotBucketStrategy="block",
                  numBlocks=16).transform(docs)[0])
        timed("stratified_budget", lambda: StratifiedBudgetSampler(
            idCol="doc_id", domainCol="source",
            budgets={"web": n // 20}, defaultBudget=n // 40).transform(docs)[0])
        timed("dup_span_removal", lambda: DuplicateSpanRemover(
            idCol="doc_id", textCol="text", spanTokens=16, minDocFreq=2,
            outputCol="clean").transform(docs)[0]
            .select("doc_id", F.length("clean").alias("l")))
        spark.catalog.clearCache()

    # slope report: time ratio per 10x rows (1.0 = perfectly linear
    # would be ratio 10; print normalized ratio/10)
    print()
    for name, by_n in results.items():
        ns = sorted(by_n)
        for a, b in zip(ns, ns[1:]):
            ratio = by_n[b] / max(by_n[a], 1e-9) / (b / a)
            print(f"{name:24s} {a}->{b}: x{by_n[b]/max(by_n[a],1e-9):.1f} "
                  f"(normalized {ratio:.2f}; <=1 is sublinear)")
    print(json.dumps({k: {str(n): v for n, v in d.items()}
                      for k, d in results.items()}))


if __name__ == "__main__":
    main()
