#!/usr/bin/env python
"""Scaling-slope probe, part 6: the raw-web ingest family — HTML
extraction chain, C4 line filtering, URL normalization (all pure
codegen projections: expect ~linear in bytes, trivially parallel) and
the Bloom prefilter (fit = one pass + partial-bitmap merge; probe =
zero-shuffle Arrow UDF; the win = store-join probe-side shrink).

Same contract as parts 1-5: hostile corpus (boilerplate lines, clone
blocks), increasing sizes, near-linear slopes = the "holds at 1000x"
answer.  Run on a clean host (pkill java first); min-of-N if numbers
look noisy.

Usage: python tools/scale_probe6.py [sizes ...] (default 50000 500000)
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

    from flink_ml_spark.llmdata import (C4LineFilter, DigestBloomFilter,
                                        HtmlTextExtractor, UrlNormalizer)

    results = {}
    for n in SIZES:
        corpus = make_line_corpus(spark, n).localCheckpoint()
        r = {}

        # html extraction chain over wrapped pages (regex chain in codegen)
        wrapped = corpus.select(
            "doc_id",
            F.concat(F.lit("<html><head><title>t</title><style>b{}</style>"
                           "</head><body><p>"),
                     F.regexp_replace("text", "\n", "</p><p>"),
                     F.lit("</p><script>var a=1;</script></body></html>"))
            .alias("raw"))
        t0 = time.time()
        ex = HtmlTextExtractor(inputCol="raw", outputCol="txt") \
            .transform(wrapped)[0]
        ex.select(F.sum(F.length("txt"))).collect()
        r["html_extract"] = round(time.time() - t0, 2)

        # C4 line rules over the multi-line corpus
        t0 = time.time()
        c4 = C4LineFilter(inputCol="text", outputCol="clean",
                          minWordsPerLine=4, requireTerminalPunct=False,
                          blockedSubstrings=["boiler"]) \
            .transform(corpus)[0]
        c4.select(F.sum("clean_n_lines"), F.sum(F.length("clean"))).collect()
        r["c4_line_filter"] = round(time.time() - t0, 2)

        # URL normalization (pure projection)
        urls = corpus.select(
            "doc_id",
            F.concat(F.lit("HTTPS://WWW."), "source", F.lit(".Example.com:443"
                     "/p/"), F.col("doc_id").cast("string"),
                     F.lit("?utm_source=x&id=1#f")).alias("url"))
        t0 = time.time()
        un = UrlNormalizer(inputCol="url").transform(urls)[0]
        un.select(F.count_distinct("url_domain"),
                  F.sum(F.length("url_norm"))).collect()
        r["url_normalize"] = round(time.time() - t0, 2)

        # Bloom: fit over the store (80% of docs), probe the batch (20%),
        # then measure the join-prune win vs the plain store join
        digs = corpus.select("doc_id", F.sha2(F.substring("text", 1, 64),
                                              256).alias("dig"))
        store = digs.filter(F.col("doc_id") % 5 != 0).localCheckpoint()
        batch = digs.filter(F.col("doc_id") % 5 == 0).localCheckpoint()
        t0 = time.time()
        model = DigestBloomFilter(inputCol="dig", fpp=0.01,
                                  expectedItems=int(n * 0.8)).fit(store)
        r["bloom_fit"] = round(time.time() - t0, 2)
        t0 = time.time()
        flagged = model.transform(batch)[0].localCheckpoint()
        n_maybe = flagged.where("maybe").count()
        r["bloom_probe"] = round(time.time() - t0, 2)
        t0 = time.time()
        (flagged.where("maybe").join(store, "dig", "left_semi").count())
        r["bloom_join_maybe_only"] = round(time.time() - t0, 2)
        t0 = time.time()
        batch.join(store, "dig", "left_semi").count()
        r["plain_store_join"] = round(time.time() - t0, 2)
        r["maybe_frac"] = round(n_maybe / max(batch.count(), 1), 4)

        results[n] = r
        print(json.dumps({"n": n, **r}), flush=True)

    if len(SIZES) >= 2:
        a, b = SIZES[0], SIZES[-1]
        ratio = b / a
        slopes = {k: round((results[b][k] / max(results[a][k], 0.01)) / ratio,
                           2)
                  for k in results[a] if k != "maybe_frac"}
        print(json.dumps({"normalized_slopes": slopes, "ratio": ratio}),
              flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
