#!/usr/bin/env python
"""Scaling-slope probe, part 2: the operator families scale_probe.py does
not cover — SimHash / n-gram-Jaccard near-dup, C4 line dedup, exact
dedup, ConnectedComponents on deliberately deep graphs, duplicate
resolution, sequence packing, corpus shuffling, bigram-LM fit+score, and
the embedding family (LSH cosine dedup, IVF build+probe).  Same contract
as part 1: hostile synthetic inputs (hot boilerplate line in 30% of
docs, 5% clone clusters, one long chain + one star in the CC graph,
duplicate embeddings) at increasing sizes; a near-linear slope across
the decades is the measurable "would this hold at 1000x" answer.

Usage: python tools/scale_probe2.py [sizes ...]  (default 5000 50000 500000)
Set SCALE_PROBE2_ONLY=name1,name2 to run a subset of the entries (the
5M-doc decade run skips the candidate-count-bound uncapped variants).
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])

SIZES = [int(a) for a in sys.argv[1:]] or [5_000, 50_000, 500_000]

BOILER_LINE = ("all rights reserved redistribution of this document "
               "requires written permission of the publisher")


def make_line_corpus(spark, n: int):
    """12 lines x 5 murmur3-mixed tokens per doc; 30% of docs carry the
    hot boilerplate line (the C4 hot-line / hot-shingle hazard); 5% of
    docs are whole-document clones (doc_id rounded to its 97-block)."""
    from pyspark.sql import functions as F
    seedc = F.when(F.col("doc_id") % 19 == 0,
                   F.col("doc_id") - F.col("doc_id") % 97) \
        .otherwise(F.col("doc_id"))
    line = lambda li: F.concat_ws(" ", F.array(*[
        F.concat(F.lit("w"),
                 F.pmod(F.hash(seedc, F.lit(li * 5 + j)), F.lit(5000))
                 .cast("string")) for j in range(5)]))
    lines = F.array(*[line(li) for li in range(12)])
    with_boiler = F.when(F.col("doc_id") % 10 < 3,
                         F.concat(lines, F.array(F.lit(BOILER_LINE)))) \
        .otherwise(lines)
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 7, "web")
         .otherwise(F.concat(F.lit("src"), (F.col("id") % 10).cast("string")))
         .alias("source"),
        F.concat_ws("\n", with_boiler).alias("text"))


def make_edges(spark, n: int):
    """One chain of n/100 nodes (depth stress: pointer jumping must make
    this O(log d), not d) + one star of n/1000 leaves on hub 0 (degree
    stress) + the 5% clone clusters as cliques-by-consecutive-pairs."""
    from pyspark.sql import functions as F
    chain = spark.range(n // 100).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    star = spark.range(n).filter(F.col("id") % 1000 == 7).select(
        F.lit(0).alias("id_a"), F.col("id").alias("id_b"))
    clones = spark.range(n).filter(
        (F.col("id") % 19 == 0) & (F.col("id") % 97 != 0)).select(
        (F.col("id") - F.col("id") % 97).alias("id_a"),
        F.col("id").alias("id_b"))
    return chain.union(star).union(clones)


def make_embeddings(spark, n: int, dim: int = 32):
    from pyspark.sql import functions as F
    seedc = F.when(F.col("id") % 19 == 0,
                   F.col("id") - F.col("id") % 97).otherwise(F.col("id"))
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: (F.pmod(F.hash(seedc, i), F.lit(2001)) / 1000.0 - 1.0)
        .cast("float"))
    return spark.range(n).select(F.col("id").alias("doc_id"),
                                 vec.alias("embedding"))


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

    from flink_ml_spark.llmdata import (
        BigramLMScorer, ConnectedComponents, CorpusShuffler,
        DuplicateResolver, EmbeddingCosineDeduplicator, ExactDeduplicator,
        IVFIndex, LineDeduplicator, NGramJaccardDeduplicator,
        SequencePacker, SimHashDeduplicator)

    results: dict[str, dict[int, float]] = {}
    for n in SIZES:
        docs = make_line_corpus(spark, n).repartition(32) \
            .localCheckpoint(eager=True)
        edges = make_edges(spark, n).repartition(32) \
            .localCheckpoint(eager=True)
        emb = make_embeddings(spark, n).repartition(32) \
            .localCheckpoint(eager=True)

        import os
        only = os.environ.get("SCALE_PROBE2_ONLY")
        only = set(only.split(",")) if only else None

        def timed(name, fn):
            if only is not None and name not in only:
                return
            t0 = time.time()
            out = fn()
            cnt = out.count()
            dt = round(time.time() - t0, 2)
            results.setdefault(name, {})[n] = dt
            print(f"n={n:>7} {name:22s} {dt:7.2f}s  ({cnt} rows)",
                  flush=True)

        timed("exact_dedup", lambda: ExactDeduplicator(
            inputCol="text", idCol="doc_id").transform(docs)[0])
        timed("line_dedup", lambda: LineDeduplicator(
            inputCol="text", outputCol="clean", idCol="doc_id")
            .transform(docs)[0]
            .select("doc_id", F.length("clean").alias("l")))
        timed("simhash_dedup", lambda: SimHashDeduplicator(
            idCol="doc_id", textCol="text", bits=48, maxDistance=3)
            .transform(docs)[0])
        timed("simhash_capped", lambda: SimHashDeduplicator(
            idCol="doc_id", textCol="text", bits=48, maxDistance=3)
            .set_(maxPieceDocFreq=256, hotPieceStrategy="block",
                  numBlocks=16)
            .transform(docs)[0])
        timed("ngram_jaccard", lambda: NGramJaccardDeduplicator(
            idCol="doc_id", textCol="text", shingleSize=3, threshold=0.5,
            maxShingleDocFreq=64).transform(docs)[0])
        timed("connected_components", lambda: ConnectedComponents()
              .transform(edges)[0])
        timed("dup_resolve", lambda: DuplicateResolver(
            idCol="doc_id", scoreCol=None).transform(docs, edges)[0]
            .select("doc_id"))
        timed("sequence_packing", lambda: SequencePacker(
            idCol="doc_id", tokenCol="n_tokens", budget=2048, numShards=64)
            .transform(docs.withColumn(
                "n_tokens", F.size(F.split("text", r"\s+"))))[0])
        timed("corpus_shuffle", lambda: CorpusShuffler(
            idCol="doc_id", numShards=64, epoch=1).transform(docs)[0]
            .select("doc_id"))

        def bigram():
            m = BigramLMScorer(inputCol="text", outputCol="lp",
                               vocabSize=20_000).fit(docs)
            return m.transform(docs)[0].select("doc_id", "lp")
        timed("bigram_lm_fit_score", bigram)

        pf = int(os.environ.get("SCALE_PROBE2_LSH_PREFILTER", "0"))
        timed("embedding_dedup_lsh", lambda: EmbeddingCosineDeduplicator(
            idCol="doc_id", vecCol="embedding", threshold=0.95, exact=0,
            numTables=4, numPlanes=None, seed=7)
            .set_(maxBucketDocFreq=128, hotBucketStrategy="block",
                  numBlocks=16, signaturePrefilter=pf).transform(emb)[0])

        def semdedup():
            # auto numClusters ≈ √n + auto 32×-expected-cell cap (the r04
            # n²/k scale-trap fix): candidate pairs ≈ n²/(2√n) = n^1.5/2,
            # sub-quadratic by construction — the timing slope verifies it
            from flink_ml_spark.llmdata import SemanticDeduplicator
            return SemanticDeduplicator(
                idCol="doc_id", vecCol="embedding", threshold=0.95,
                maxIter=3, seed=7).transform(emb)[0].select("id_a", "id_b")
        timed("semantic_dedup_auto", semdedup)

        def ivf():
            idx = IVFIndex(vecCol="embedding", nlist=None, maxIter=3,
                           seed=7).fit(emb)
            corpus = idx.transform(
                emb.select(F.col("doc_id").alias("corpus_id"),
                           "embedding"))[0]
            queries = emb.filter(F.col("doc_id") % 100 == 0).select(
                F.col("doc_id").alias("query_id"), "embedding")
            return idx.search(queries, corpus, "query_id", "corpus_id",
                              k=5)
        timed("ivf_build_probe", ivf)
        spark.catalog.clearCache()

    print()
    for name, by_n in results.items():
        ns = sorted(by_n)
        for a, b in zip(ns, ns[1:]):
            ratio = by_n[b] / max(by_n[a], 1e-9) / (b / a)
            print(f"{name:22s} {a}->{b}: x{by_n[b]/max(by_n[a],1e-9):.1f} "
                  f"(normalized {ratio:.2f}; <=1 is sublinear)")
    print(json.dumps({k: {str(n): v for n, v in d.items()}
                      for k, d in results.items()}))


if __name__ == "__main__":
    main()
