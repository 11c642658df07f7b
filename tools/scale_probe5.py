#!/usr/bin/env python
"""Scaling-slope probe, part 5: the sparse-retrieval family — BM25
index build (corpus-sized), query serving against the built index
(query-fan-out-sized), static impact pruning, and the retrieval
evaluator.  Same contract as parts 1-4: hostile corpus (30% hot
boilerplate line → stopword-like tokens with corpus-sized postings
lists), increasing sizes, near-linear slopes = the "holds at 1000x"
answer.

Expected shapes:
- index_build: stats agg + postings groupBy → linear in corpus tokens.
- query_k10_q64: broadcast qterm join over postings → linear in the
  MATCHED postings, so with maxDocFreq capping the boilerplate tokens
  it should be far sublinear in corpus size.
- query_uncapped: the control — boilerplate query terms pull their
  full postings lists; the gap vs capped is the maxDocFreq story.
- eval: RankingEvaluator over query-result-sized relations → flat.

Usage: python tools/scale_probe5.py [sizes ...] (default 50000 500000)
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])
sys.path.insert(0, __file__.rsplit("/", 1)[0])

SIZES = [int(a) for a in sys.argv[1:]] or [50_000, 500_000]


def main() -> None:
    from pyspark.sql import SparkSession, functions as F

    from bench import driver_memory

    from scale_probe2 import make_line_corpus

    spark = (SparkSession.builder.master("local[32]")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.driver.memory", driver_memory())
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()  # warmup

    from flink_ml_spark.evaluation import RankingEvaluator
    from flink_ml_spark.llmdata import Bm25Index
    from flink_ml_spark.llmdata.textanalysis import _tokens

    results: dict[str, dict[int, float]] = {}
    for n in SIZES:
        docs = make_line_corpus(spark, n).repartition(32) \
            .localCheckpoint(eager=True)
        toks = _tokens(F.coalesce("text", F.lit("")))
        # 64 queries: first-5-token prefixes + ONE boilerplate token
        # ("reserved", df = 0.3n — the hostile part: an uncapped index
        # must scan that full postings list per query)
        qs = (docs.filter(F.col("doc_id") % (n // 64) == 7)
              .select(F.col("doc_id").alias("query_id"),
                      F.concat_ws(" ", F.concat_ws(
                          " ", F.slice(toks, 1, 5)), F.lit("reserved"))
                      .alias("query_text"))
              .localCheckpoint(eager=True))

        def timed(name, fn, is_df=True):
            t0 = time.time()
            out = fn()
            cnt = out.count() if is_df else out
            dt = round(time.time() - t0, 2)
            results.setdefault(name, {})[n] = dt
            print(f"n={n:>7} {name:18s} {dt:7.2f}s  ({cnt} rows)",
                  flush=True)
            return out

        built = [None]

        def build():
            # cap sits above the w-token mean df (~n/167 at 60 tok/doc,
            # 5k vocab) but below the boilerplate tokens' 0.3n — it
            # must drop ONLY the pathological lists, not the vocabulary
            built[0] = Bm25Index(maxDocFreq=n // 10).fit(docs)
            # materialize the index the way a persisted one would be
            built[0].postings = built[0].postings \
                .localCheckpoint(eager=True)
            built[0].token_stats = built[0].token_stats \
                .localCheckpoint(eager=True)
            return docs.limit(0)

        timed("index_build", build)
        built[0].set_(k=10, scoreRounding=6)
        hits = timed("query_k10_q64",
                     lambda: built[0].transform(qs)[0])
        uncapped = [None]

        def build_uncapped():
            uncapped[0] = Bm25Index().fit(docs)
            uncapped[0].postings = uncapped[0].postings \
                .localCheckpoint(eager=True)
            uncapped[0].token_stats = uncapped[0].token_stats \
                .localCheckpoint(eager=True)
            return docs.limit(0)

        timed("build_uncapped", build_uncapped)
        uncapped[0].set_(k=10, scoreRounding=6)
        timed("query_uncapped", lambda: uncapped[0].transform(qs)[0])

        truth = (qs.select("query_id")
                 .join(docs.select(F.col("doc_id"),
                                   (F.col("doc_id") % 97).alias("b")),
                       F.col("query_id") % 97 == F.col("b"))
                 .select("query_id", "doc_id", F.lit(1.0).alias("relevance")))
        timed("eval", lambda: RankingEvaluator(k=10)
              .transform(hits, truth)[0])

        docs.unpersist()

    print(json.dumps({k: {str(nn): v for nn, v in d.items()}
                      for k, d in results.items()}))
    spark.stop()  # never leave the JVM running if the driver is killed


if __name__ == "__main__":
    main()
