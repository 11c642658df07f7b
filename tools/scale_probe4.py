#!/usr/bin/env python
"""Scaling-slope probe, part 4: the data-quality family — DataProfiler
(approx/HLL vs exactDistinct modes, plus the quantile-sketch block),
ConstraintGate, FrequentItemsProfiler (two-pass Misra-Gries vs the
full-shuffle groupBy top-k it replaces), and CorrelationMatrix.  Same
contract as parts 1-3: hostile synthetic inputs at increasing sizes; a
near-linear slope across the decades is the measurable "would this hold
at 1000x" answer.

Expected shapes — the probe verifies them, it does not assume them:
- profile_approx: ONE Expand-free agg pass → linear, scan-bound.
- profile_exact: same scan but multi-count-distinct Expand → linear
  with a ~(distinct-aggs+1)× constant (the documented opt-in tax).
- profile_quantiles (approx sketch): stays inside the one pass.
- constraint_gate: one agg pass + the unique-rule count-distinct.
- frequent_items: MG sketch pass (zero-shuffle) + candidate-only exact
  pass; compare against the full groupBy top-k baseline — the gap is
  the 100 TB story (aggregation state ∝ capacity, not vocabulary).
- corr_matrix: one zero-shuffle Arrow partial pass → linear, dim² driver
  arithmetic constant.

Usage: python tools/scale_probe4.py [sizes ...] (default 5000 50000 500000)
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])
sys.path.insert(0, __file__.rsplit("/", 1)[0])

SIZES = [int(a) for a in sys.argv[1:]] or [5_000, 50_000, 500_000]


def main() -> None:
    from pyspark.sql import SparkSession, functions as F

    from bench import driver_memory

    from scale_probe2 import make_embeddings, make_line_corpus

    spark = (SparkSession.builder.master("local[32]")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.driver.memory", driver_memory())
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()  # warmup

    from flink_ml_spark.llmdata import (ConstraintGate, DataProfiler,
                                        FrequentItemsProfiler)
    from flink_ml_spark.llmdata.textanalysis import _tokens
    from flink_ml_spark.stats import CorrelationMatrix

    results: dict[str, dict[int, float]] = {}
    for n in SIZES:
        docs = make_line_corpus(spark, n).repartition(32) \
            .localCheckpoint(eager=True)
        emb = make_embeddings(spark, n).repartition(32) \
            .localCheckpoint(eager=True)
        toks = docs.select(_tokens(F.coalesce("text", F.lit("")))
                           .alias("t"))

        def timed(name, fn, is_df=True):
            t0 = time.time()
            out = fn()
            cnt = out.count() if is_df else out
            dt = round(time.time() - t0, 2)
            results.setdefault(name, {})[n] = dt
            print(f"n={n:>7} {name:24s} {dt:7.2f}s  ({cnt} rows)",
                  flush=True)
            return out

        timed("profile_approx", lambda: DataProfiler(
            columns=["doc_id", "text", "source"]).transform(docs)[0])
        timed("profile_exact", lambda: DataProfiler(
            columns=["doc_id", "text", "source"],
            exactDistinct=True).transform(docs)[0])
        timed("profile_quantiles", lambda: DataProfiler(
            columns=["doc_id"],
            quantiles=[0.25, 0.5, 0.95]).transform(docs)[0])
        timed("constraint_gate", lambda: ConstraintGate(constraints=[
            {"type": "min_rows", "value": 10},
            {"type": "not_null", "col": "text"},
            {"type": "unique", "col": "doc_id"},
            {"type": "in_set", "col": "source",
             "allowed": ["web", "books", "code"]},
        ], failOnViolation=False).transform(docs)[0])
        timed("frequent_items_mg", lambda: FrequentItemsProfiler(
            itemsCol="t", k=20, capacity=4096).transform(toks)[0])
        timed("topk_full_groupby", lambda: (
            toks.select(F.explode("t").alias("i")).groupBy("i").count()
            .orderBy(F.col("count").desc(), "i").limit(20)))
        timed("corr_matrix", lambda: CorrelationMatrix(
            featuresCol="embedding").transform(emb)[0])

        for d in (docs, emb):
            d.unpersist()

    print(json.dumps({k: {str(nn): v for nn, v in d.items()}
                      for k, d in results.items()}))


if __name__ == "__main__":
    main()
