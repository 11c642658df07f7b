#!/usr/bin/env python
"""Scaling-slope probe, part 8: Bm25IndexModel.update after the
append-only store normalization.

The r05 store kept per-token df ON posting rows, so folding a batch's
df delta rewrote (and re-materialized) the whole index — O(index) per
update.  The normalized store keeps postings (tok, id, dl, tf)
append-only with df in a separate vocab-sized token-stats relation, so
``update`` is O(batch) + O(vocab) regardless of how big the base index
already is.

Probe: fix the BATCH size, grow the BASE corpus ×10, measure
``update`` wall time (including its eager batch/token-stats
checkpoints) and a query against the merged index.  Pass = update time
~flat in base size (vocab is capped here, as in real corpora where it
grows ~Heaps-sublinearly); query time may grow with the index — that's
the serving cost, not the ingest cost.

Same contract as parts 1-7: increasing sizes, flat/near-linear slopes
= the "holds at 1000x" answer.  Run on a clean host.

Usage: python tools/scale_probe8.py [base_sizes ...]
       (default 100000 1000000; batch fixed at 20000)
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])

SIZES = [int(a) for a in sys.argv[1:]] or [100_000, 1_000_000]
BATCH = 20_000


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

    from flink_ml_spark.llmdata import Bm25Index

    def synth(lo: int, hi: int):
        # ~24 tokens/doc over a 20k-token vocabulary (Heaps-capped, as
        # at corpus scale where vocab grows far slower than the corpus)
        return (spark.range(lo, hi)
                .select(F.col("id").alias("doc_id"),
                        F.concat_ws(" ", *[
                            F.concat(F.lit("t"),
                                     F.pmod(F.hash(F.col("id") + i),
                                            F.lit(20_000)))
                            for i in range(24)]).alias("text"))
                .localCheckpoint())

    queries = spark.createDataFrame(
        [(i, f"t{i * 31 % 20000} t{i * 57 % 20000} t{i * 13 % 20000}")
         for i in range(64)], "query_id long, query_text string")

    results = {}
    for n in SIZES:
        r = {}
        base = synth(0, n)
        batch = synth(n, n + BATCH)
        t0 = time.time()
        model = Bm25Index().fit(base)
        # materialize as a persisted index would be: ingest cost must
        # not hide a lazy re-tokenize of the base corpus
        model.postings = model.postings.localCheckpoint(eager=True)
        model.token_stats = model.token_stats.localCheckpoint(eager=True)
        r["fit_base"] = round(time.time() - t0, 2)

        t0 = time.time()
        model.update(batch)
        r[f"update_{BATCH}"] = round(time.time() - t0, 2)

        model.set_(k=10, scoreRounding=6)
        t0 = time.time()
        cnt = model.transform(queries)[0].count()
        r["query_k10_q64"] = round(time.time() - t0, 2)
        r["query_rows"] = int(cnt)
        results[n] = r
        print(f"n={n}: {r}", flush=True)

    print(json.dumps({"probe": "bm25_update_append_only",
                      "batch": BATCH, "results": results}))


if __name__ == "__main__":
    main()
