#!/usr/bin/env python
"""Scaling-slope probe, part 7: this round's additions —

- PageRank: synthetic power-law link graph at increasing edge counts;
  each power iteration is one join + one combine-side agg, so total time
  should grow ~linearly in |E| (rounds fixed).
- FuzzyStringJoin: blocked candidates — time should track the CANDIDATE
  count (block sizes), not |L|·|R|; the probe reports both so the gap to
  the all-pairs product is visible.
- NegativeSampler: candidate volume = queries · draws · bucketSize by
  construction; doubling the corpus with bucketSize fixed doubles the
  bucket count, NOT the per-query work — expect ~flat per-query cost.

Same contract as parts 1-6: increasing sizes, near-linear slopes =
the "holds at 1000x" answer.  Run on a clean host.

Usage: python tools/scale_probe7.py [sizes ...] (default 50000 500000)
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])

SIZES = [int(a) for a in sys.argv[1:]] or [50_000, 500_000]


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

    from flink_ml_spark.llmdata import (FuzzyStringJoin, NegativeSampler,
                                        PageRank)

    results = {}
    for n in SIZES:
        r = {}
        # --- PageRank: |E| = 4n over n nodes, power-law-ish dst skew
        edges = (spark.range(4 * n)
                 .select((F.col("id") % n).alias("src"),
                         (F.pmod(F.hash(F.col("id")), F.lit(n))
                          * F.pmod(F.hash(F.col("id") + 1), F.lit(97))
                          % n).alias("dst"))
                 .localCheckpoint())
        t0 = time.time()
        pr = PageRank(maxIter=5).transform(edges)[0]
        pr.select(F.sum("rank")).collect()
        r["pagerank_5it"] = round(time.time() - t0, 2)

        # --- FuzzyStringJoin over word-salad names (shared vocab)
        words = ("amber beige coral denim ebony fuchsia golden hazel "
                 "indigo jade khaki lilac mauve navy olive peach").split()
        name = F.concat_ws(
            " ", *[F.element_at(
                F.array(*[F.lit(w) for w in words]),
                (F.pmod(F.hash(F.col("id") + k), F.lit(len(words))) + 1)
                .cast("int")) for k in range(4)])
        base = spark.range(n // 10).select(
            F.col("id").alias("left_id"), name.alias("name")) \
            .localCheckpoint()
        right = base.select(
            F.col("left_id").alias("right_id"),
            F.regexp_replace("name", r"\s+\S+$", "").alias("name")) \
            .localCheckpoint()
        t0 = time.time()
        fj = FuzzyStringJoin(maxDistance=8, firstTokenBlock=1,
                             keepBest=1).transform(base, right)[0]
        matched = fj.count()
        r["fuzzy_join_best"] = round(time.time() - t0, 2)
        r["fuzzy_rows"] = int(matched)

        # --- NegativeSampler: 1% of ids are queries, 3 positives each
        corpus = spark.range(n).select(F.col("id").alias("doc")) \
            .localCheckpoint()
        q = corpus.filter(F.col("doc") % 100 == 0) \
            .select(F.col("doc").alias("query"))
        pos = q.select("query", F.explode(F.array(
            F.col("query"), F.col("query") + 1, F.col("query") + 2))
            .alias("doc"))
        t0 = time.time()
        ns = NegativeSampler(k=5, margin=3).transform(pos, corpus)[0]
        got = ns.count()
        r["negative_sampler"] = round(time.time() - t0, 2)
        r["neg_rows"] = int(got)

        results[n] = r
        print(json.dumps({"n": n, **r}), flush=True)

    ks = [k for k in results[SIZES[0]] if not k.endswith("rows")]
    if len(SIZES) >= 2:
        for k in ks:
            a, b = results[SIZES[0]][k], results[SIZES[-1]][k]
            ratio = SIZES[-1] / SIZES[0]
            slope = (b / a) / ratio if a > 0 else float("nan")
            print(f"norm slope {k}: {slope:.2f} "
                  f"({a}s -> {b}s at {ratio:.0f}x)")


if __name__ == "__main__":
    main()
