"""Benchmark runner + the reference workload matrix.

Reference: flink-ml-benchmark/src/main/resources/*.json (35 configs, all
seed=2) executed by Benchmark.java:129 / BenchmarkUtils.java:75-98.
``WORKLOADS`` reproduces the matrix (stage + params + generator + rows —
see BASELINE.md for the per-config sources); ``run_named(spark, name,
scale=...)`` times fit+transform end-to-end (generation inside the timed
job, output fully materialized) and returns the reference's metric names.

CLI:  python -m flink_ml_spark.benchmark.runner [name ...] [--scale 0.01]
(on $SPARK_GRAFT_CPUS or the host's cores, driver memory sized by
``session.driver_memory()``)
"""

from __future__ import annotations

import json
import sys
import time
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from . import datagen as G


@dataclass
class Workload:
    rows: int
    make_input: Callable[[SparkSession, int], DataFrame]
    make_stage: Callable[[], object]
    extra_inputs: Callable[[SparkSession, int], list] | None = None


def _w(rows, make_input, make_stage):
    return Workload(int(rows), make_input, make_stage)


def _workloads() -> dict[str, Workload]:
    from ..classification import (LinearSVC, LogisticRegression, NaiveBayes)
    from ..clustering import AgglomerativeClustering, KMeans
    from ..feature import (Binarizer, Bucketizer, CountVectorizer, DCT,
                           ElementwiseProduct, FeatureHasher, HashingTF, IDF,
                           Imputer, Interaction, KBinsDiscretizer,
                           MaxAbsScaler, MinMaxScaler, NGram, Normalizer,
                           OneHotEncoder, PolynomialExpansion, RegexTokenizer,
                           RobustScaler, SQLTransformer, StandardScaler,
                           StopWordsRemover, StringIndexer, Tokenizer,
                           UnivariateFeatureSelector, VarianceThresholdSelector,
                           VectorAssembler, VectorIndexer, VectorSlicer)
    from ..regression import LinearRegression

    dv = G.dense_vector_table
    dbl = G.double_table
    rs = G.random_string_table
    rsa = G.random_string_array_table
    lp = G.labeled_point_table

    return {
        "agglomerativeclustering": _w(1e3, lambda s, n: dv(s, n, 100),
            lambda: AgglomerativeClustering(featuresCol="features", numClusters=10,
                                            linkage="ward")),
        "binarizer": _w(1e7, lambda s, n: dbl(s, n, 5),
            lambda: Binarizer(inputCols=[f"v{i}" for i in range(5)],
                              outputCols=[f"o{i}" for i in range(5)],
                              thresholds=[50.0] * 5)),
        "bucketizer": _w(1e8, lambda s, n: dbl(s, n, 1),
            lambda: Bucketizer(inputCols=["v0"], outputCols=["o0"],
                               splitsArray=[[-float("inf"), 25.0, 50.0, 75.0,
                                             float("inf")]],
                               handleInvalid="skip")),
        "countvectorizer": _w(1e7, lambda s, n: rsa(s, n, 100, 100, col="arr"),
            lambda: CountVectorizer(inputCol="arr", outputCol="vec")),
        "dct": _w(1e7, lambda s, n: dv(s, n, 100),
            lambda: DCT(inputCol="features", outputCol="out")),
        "elementwiseproduct": _w(1e8, lambda s, n: dv(s, n, 5),
            lambda: ElementwiseProduct(inputCol="features", outputCol="out",
                                       scalingVec=[1.1, 1.1, 1.1, 1.1, 1.1])),
        "featurehasher": _w(1e7, lambda s, n: dbl(s, n, 5, arity=10),
            lambda: FeatureHasher(inputCols=[f"v{i}" for i in range(5)],
                                  categoricalCols=["v0", "v1", "v2"],
                                  outputCol="out", numFeatures=1000)),
        "hashingtf": _w(1e7, lambda s, n: rsa(s, n, 10, 100, col="arr"),
            lambda: HashingTF(inputCol="arr", outputCol="out")),
        "idf": _w(1e7, lambda s, n: dv(s, n, 10),
            lambda: IDF(inputCol="features", outputCol="out")),
        "imputer": _w(1e7, lambda s, n: dbl(s, n, 15, arity=100),
            lambda: Imputer(inputCols=[f"v{i}" for i in range(15)],
                            outputCols=[f"o{i}" for i in range(15)],
                            strategy="mean")),
        "interaction": _w(1e7, lambda s, n: dbl(s, n, 5),
            lambda: Interaction(inputCols=[f"v{i}" for i in range(5)],
                                outputCol="out")),
        "kbinsdiscretizer": _w(1e7, lambda s, n: dv(s, n, 10),
            lambda: KBinsDiscretizer(inputCol="features", outputCol="out",
                                     strategy="uniform", numBins=5)),
        "kmeans": _w(1e6, lambda s, n: dv(s, n, 100),
            lambda: KMeans(featuresCol="features", k=10, maxIter=10, seed=2)),
        "linearregression": _w(1e7, lambda s, n: lp(s, n, 100, label_arity=10),
            lambda: LinearRegression(featuresCol="features", labelCol="label",
                                     weightCol="weight", maxIter=20,
                                     globalBatchSize=100000, learningRate=0.1)),
        "linearsvc": _w(1e7, lambda s, n: lp(s, n, 100, label_arity=2),
            lambda: LinearSVC(featuresCol="features", labelCol="label",
                              weightCol="weight", maxIter=20,
                              globalBatchSize=100000, learningRate=0.1)),
        "logisticregression": _w(1e7, lambda s, n: lp(s, n, 100, label_arity=2),
            lambda: LogisticRegression(featuresCol="features", labelCol="label",
                                       weightCol="weight", maxIter=20,
                                       globalBatchSize=100000,
                                       learningRate=0.1)),
        "maxabsscaler": _w(1e7, lambda s, n: dv(s, n, 100),
            lambda: MaxAbsScaler(inputCol="features", outputCol="out")),
        "minmaxscaler": _w(1e7, lambda s, n: dv(s, n, 100),
            lambda: MinMaxScaler(inputCol="features", outputCol="out")),
        "naivebayes": _w(2e6, lambda s, n: lp(s, n, 100, label_arity=10,
                                              feature_arity=20),
            lambda: NaiveBayes(featuresCol="features", labelCol="label")),
        "ngram": _w(1e7, lambda s, n: rsa(s, n, 10, 100, col="arr"),
            lambda: NGram(inputCol="arr", outputCol="out")),
        "normalizer": _w(1e8, lambda s, n: dv(s, n, 5),
            lambda: Normalizer(inputCol="features", outputCol="out")),
        "onehotencoder": _w(1e5, lambda s, n: dbl(s, n, 1, arity=10),
            lambda: OneHotEncoder(inputCols=["v0"], outputCols=["o0"])),
        "polynomialexpansion": _w(1e8, lambda s, n: dv(s, n, 5),
            lambda: PolynomialExpansion(inputCol="features", outputCol="out",
                                        degree=2)),
        "regextokenizer": _w(1e7, lambda s, n: rs(s, n, 100),
            lambda: RegexTokenizer(inputCol="s", outputCol="out",
                                   pattern=r"\w+", gaps=False)),
        "robustscaler": _w(1e7, lambda s, n: dv(s, n, 100),
            lambda: RobustScaler(inputCol="features", outputCol="out",
                                 withCentering=True)),
        "sqltransformer": _w(1e8, lambda s, n: dbl(s, n, 1),
            lambda: SQLTransformer(
                statement="SELECT *, ABS(v0) AS v1 FROM __THIS__")),
        "standardscaler": _w(1e7, lambda s, n: dv(s, n, 100),
            lambda: StandardScaler(inputCol="features", outputCol="out",
                                   withMean=True)),
        "stopwordsremover": _w(1e6, lambda s, n: rsa(s, n, 100, 100, col="arr"),
            lambda: StopWordsRemover(inputCols=["arr"], outputCols=["out"])),
        "stringindexer": _w(1e8, lambda s, n: rs(s, n, 100),
            lambda: StringIndexer(inputCols=["s"], outputCols=["o"],
                                  stringOrderType="arbitrary",
                                  handleInvalid="skip")),
        "tokenizer": _w(1e7, lambda s, n: rs(s, n, 100),
            lambda: Tokenizer(inputCol="s", outputCol="out")),
        "univariatefeatureselector": _w(1e7,
            lambda s, n: lp(s, n, 100, label_arity=10),
            lambda: UnivariateFeatureSelector(
                featuresCol="features", labelCol="label", outputCol="out",
                featureType="continuous", labelType="categorical")),
        "variancethresholdselector": _w(1e7, lambda s, n: dv(s, n, 100),
            lambda: VarianceThresholdSelector(inputCol="features",
                                              outputCol="out",
                                              varianceThreshold=100.0)),
        "vectorassembler": _w(1e7, lambda s, n: dbl(s, n, 15),
            lambda: VectorAssembler(inputCols=[f"v{i}" for i in range(15)],
                                    outputCol="out",
                                    inputSizes=[1] * 15)),
        "vectorindexer": _w(1e7, lambda s, n: dv(s, n, 10),
            lambda: VectorIndexer(inputCol="features", outputCol="out",
                                  maxCategories=20, handleInvalid="skip")),
        "vectorslicer": _w(1e7, lambda s, n: dv(s, n, 10),
            lambda: VectorSlicer(inputCol="features", outputCol="out",
                                 indices=[0, 2, 4])),
    }


WORKLOADS = _workloads


def run_benchmark(spark: SparkSession, wl: Workload, scale: float = 1.0) -> dict:
    from ..api import Estimator
    n = max(1, int(wl.rows * scale))
    df = wl.make_input(spark, n)
    stage = wl.make_stage()
    t0 = time.time()
    if isinstance(stage, Estimator):
        model = stage.fit(df)
        out = model.transform(df)[0]
    else:
        out = stage.transform(df)[0]
    out_rows = out.count()
    total_ms = (time.time() - t0) * 1000.0
    return {
        "totalTimeMs": round(total_ms, 1),
        "inputRecordNum": n,
        "inputThroughput": round(n / (total_ms / 1000.0), 1),
        "outputRecordNum": out_rows,
        "outputThroughput": round(out_rows / (total_ms / 1000.0), 1),
    }


def run_named(spark: SparkSession, name: str, scale: float = 1.0) -> dict:
    wl = WORKLOADS()[name]
    res = run_benchmark(spark, wl, scale)
    return {"name": name, "scale": scale, **res}


def main() -> None:
    import argparse
    p = argparse.ArgumentParser()
    p.add_argument("names", nargs="*")
    p.add_argument("--scale", type=float, default=1.0)
    ns = p.parse_args()
    args, scale = ns.names, ns.scale
    from .session import session
    spark = session("flink_ml_spark_benchmark")  # AQE is Spark's default
    names = args or sorted(WORKLOADS().keys())
    for name in names:
        print(json.dumps(run_named(spark, name, scale)), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
