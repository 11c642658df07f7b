#!/usr/bin/env python
"""Scaling-slope probe, part 3: the round-4 selection + monitoring
family — DSIR importance resampling (fit and score separately),
token-distribution drift, embedding-centroid drift, and the streaming
per-batch JS drift gate.  Same contract as parts 1/2: hostile synthetic
inputs (reusing part 2's generators: hot boilerplate in 30% of docs, 5%
clone clusters, duplicate embeddings) at increasing sizes; a near-linear
slope across the decades is the measurable "would this hold at 1000x"
answer.

Expected shapes — the probe verifies them, it does not assume them:
- dsir_fit: two token-count aggs whose key is a bucket int (≤ numBuckets
  rows to the driver) → linear in corpus tokens.
- dsir_score: one zero-shuffle Arrow pass → linear, scan-bound.
- token_drift: ONE side-tagged token-count shuffle + TakeOrdered → linear.
- embedding_drift: one zero-shuffle mapInPandas partial pass per side
  (groups × dim doubles to the driver) → linear, scan-bound.
- streaming_drift_batch: one token-count shuffle + broadcast vocab fold
  (≤ vocab+1 rows to the driver) → linear per batch.

Usage: python tools/scale_probe3.py [sizes ...] (default 5000 50000 500000)
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

    from flink_ml_spark.llmdata import (EmbeddingDriftProfiler,
                                        ImportanceResampler,
                                        TokenDriftProfiler)
    from flink_ml_spark.streaming import StreamingDriftMonitor

    results: dict[str, dict[int, float]] = {}
    for n in SIZES:
        docs = make_line_corpus(spark, n).repartition(32) \
            .localCheckpoint(eager=True)
        emb = make_embeddings(spark, n).repartition(32) \
            .withColumn("label", (F.col("doc_id") % 16).cast("int")) \
            .localCheckpoint(eager=True)
        old = docs.filter(F.col("doc_id") % 3 != 0)
        new = docs.filter(F.col("doc_id") % 3 != 1)
        tgt = docs.filter(F.col("source") != "web")
        raw = docs.filter(F.col("source") == "web")

        def timed(name, fn, is_df=True):
            t0 = time.time()
            out = fn()
            cnt = out.count() if is_df else out
            dt = round(time.time() - t0, 2)
            results.setdefault(name, {})[n] = dt
            print(f"n={n:>7} {name:22s} {dt:7.2f}s  ({cnt} rows)",
                  flush=True)
            return out

        dsir = [None]

        def fit():
            dsir[0] = ImportanceResampler(
                idCol="doc_id", inputCol="text",
                numBuckets=4096).fit(raw, tgt)
            return raw.limit(0)  # timing is the fit itself

        timed("dsir_fit", fit)
        # collect() the aggregate VALUE: count() column-prunes the scoring
        # UDF, and even count()-over-agg short-circuits to "1 row" without
        # evaluating the sum (0.2s "scores" at 500k both ways)
        timed("dsir_score", lambda: dsir[0].transform(raw)[0]
              .agg(F.sum("dsir_key")).collect()[0][0], is_df=False)
        timed("token_drift", lambda: TokenDriftProfiler(
            inputCol="text", k=50).transform(old, new)[0])
        timed("embedding_drift", lambda: EmbeddingDriftProfiler(
            inputCol="embedding", byCol="label")
            .transform(emb.filter(F.col("doc_id") % 3 != 0),
                       emb.filter(F.col("doc_id") % 3 != 1))[0])

        mon = StreamingDriftMonitor(input_col="text", vocab_size=50_000)
        t0 = time.time()
        mon.fit_reference(old)
        results.setdefault("drift_fit_reference", {})[n] = \
            round(time.time() - t0, 2)
        print(f"n={n:>7} {'drift_fit_reference':22s} "
              f"{results['drift_fit_reference'][n]:7.2f}s", flush=True)
        timed("streaming_drift_batch",
              lambda: mon.process_batch(new)["n_tokens"], is_df=False)

        for d in (docs, emb):
            d.unpersist()

    print(json.dumps({k: {str(n): v for n, v in d.items()}
                      for k, d in results.items()}))


if __name__ == "__main__":
    main()
