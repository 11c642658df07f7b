"""The exact-ranking operators built on ``dataflow.ordered_prefix_sums``:
no persisted relation outlives one, each matches numpy when the helper
runs on several range partitions, and the evaluator's job count stays
pinned (it is on the benchmark's ``apply_s`` path)."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from flink_ml_spark.common import dataflow
from flink_ml_spark.evaluation import (BinaryClassificationEvaluator,
                                       SlicedBinaryClassificationEvaluator)
from flink_ml_spark.regression import ConformalRegressor
from flink_ml_spark.stats import (KolmogorovSmirnovTest, MannWhitneyUTest,
                                  SpearmanCorrelation)


def _persisted_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _midranks(v):
    """1-based average-tie ranks."""
    _, inv, cnt = np.unique(v, return_inverse=True, return_counts=True)
    below = np.concatenate([[0], np.cumsum(cnt)[:-1]])
    return (below + (cnt + 1) / 2)[inv]


def _auc(s, y):
    p = y.sum()
    n = len(y) - p
    return (_midranks(s)[y == 1].sum() - p * (p + 1) / 2) / (p * n)


@pytest.fixture(scope="module")
def sample():
    """600 rows with ties: score/label, a second value column, a group
    column with a NULL group, a two-way split and a residual pair."""
    rng = np.random.RandomState(17)
    n = 600
    y = rng.randint(0, 2, n).astype(float)
    s = np.round(rng.randn(n) + 0.8 * y, 2)
    x2 = np.round(s * 0.5 + rng.randn(n), 1)
    grp = np.array(["a", "b", None], dtype=object)[rng.randint(0, 3, n)]
    pred = np.round(rng.randn(n), 2)
    return {"score": s, "label": y, "x2": x2, "grp": grp, "pred": pred}


@pytest.fixture()
def sample_df(spark, sample):
    rows = list(zip(*(sample[c].tolist() for c in
                      ("score", "label", "x2", "grp", "pred"))))
    return spark.createDataFrame(
        rows, "score double, label double, x2 double, grp string, "
              "pred double")


_OPERATORS = {
    "binary_evaluator": lambda df: BinaryClassificationEvaluator(
        labelCol="label", rawPredictionCol="score").transform(df)[0].collect(),
    "ks_test": lambda df: KolmogorovSmirnovTest(
        valueCol="score", groupCol="label").transform(df)[0].collect(),
    "spearman": lambda df: SpearmanCorrelation(
        xCol="score", yCol="x2").transform(df)[0].collect(),
    "mann_whitney": lambda df: MannWhitneyUTest(
        groupCol="label", valueCol="score").transform(df)[0].collect(),
    "conformal_fit": lambda df: ConformalRegressor(
        labelCol="score", predictionCol="pred").fit(df).model_data,
}


# small enough that every caller below runs on at least 3 range partitions
_FEW_ROWS_PER_PART = 16


@pytest.mark.parametrize("rows_per_part",
                         [dataflow.ROWS_PER_PART, _FEW_ROWS_PER_PART])
@pytest.mark.parametrize("name", sorted(_OPERATORS))
def test_exact_ranking_operator_releases_its_cache(spark, sample_df,
                                                   monkeypatch, name,
                                                   rows_per_part):
    monkeypatch.setattr(dataflow, "ROWS_PER_PART", rows_per_part)
    before = _persisted_ids(spark)
    _OPERATORS[name](sample_df)
    assert _persisted_ids(spark) - before == set()


@pytest.fixture()
def multipartition(spark, monkeypatch):
    """Shrink ROWS_PER_PART so every caller range-partitions its 60 to
    600 distinct values into at least 3 partitions, and check the
    partition count each ``repartitionByRange`` asked for."""
    monkeypatch.setattr(dataflow, "ROWS_PER_PART", _FEW_ROWS_PER_PART)
    dfcls = type(spark.range(1))
    orig = dfcls.repartitionByRange
    seen = []

    def spy(self, n, *cols):
        seen.append(n)
        return orig(self, n, *cols)

    monkeypatch.setattr(dfcls, "repartitionByRange", spy)
    yield
    assert seen and min(seen) >= 3, seen


def test_evaluator_matches_numpy_multipartition(sample_df, sample,
                                                multipartition):
    s, y = sample["score"], sample["label"]
    r = BinaryClassificationEvaluator(
        labelCol="label", rawPredictionCol="score") \
        .transform(sample_df)[0].first()
    ks = max(abs((s[y == 1] >= t).mean() - (s[y == 0] >= t).mean())
             for t in np.unique(s))
    assert r["areaUnderROC"] == pytest.approx(_auc(s, y), abs=1e-12)
    assert r["ks"] == pytest.approx(ks, abs=1e-12)


def test_spearman_and_mann_whitney_match_numpy_multipartition(
        sample_df, sample, multipartition):
    s, y, x2 = sample["score"], sample["label"], sample["x2"]
    rho = SpearmanCorrelation(xCol="score", yCol="x2") \
        .transform(sample_df)[0].first()["rho"]
    assert rho == pytest.approx(
        np.corrcoef(_midranks(s), _midranks(x2))[0, 1], abs=1e-12)
    mw = MannWhitneyUTest(groupCol="label", valueCol="score") \
        .transform(sample_df.withColumn("label", F.col("label")
                                        .cast("string")))[0].first()
    # group1 is the smaller key, "0.0"
    r0 = _midranks(s)[y == 0].sum()
    n0 = int((y == 0).sum())
    assert mw["group1"] == "0.0"
    assert mw["u1_x2"] == int(round(2 * r0)) - n0 * (n0 + 1)


def test_conformal_q_matches_numpy_multipartition(sample_df, sample,
                                                  multipartition):
    res = np.sort(np.abs(sample["pred"] - sample["score"]))
    m = ConformalRegressor(labelCol="score", predictionCol="pred",
                           alpha=0.1).fit(sample_df)
    k = math.ceil((len(res) + 1) * 0.9)
    assert m.model_data["k"] == k
    assert m.model_data["q"] == res[k - 1]


def test_sliced_auc_matches_numpy_multipartition(sample_df, sample,
                                                 multipartition):
    s, y, grp = sample["score"], sample["label"], sample["grp"]
    out = {r["grp"]: r for r in SlicedBinaryClassificationEvaluator(
        groupCol="grp", labelCol="label", rawPredictionCol="score")
        .transform(sample_df)[0].collect()}
    assert set(out) == {"a", "b", None}
    for g in ("a", "b", None):
        sel = np.array([v == g for v in grp])
        assert out[g]["n"] == sel.sum()
        assert out[g]["auc"] == pytest.approx(_auc(s[sel], y[sel]),
                                              abs=1e-12), g


def test_evaluator_job_count_is_pinned(spark, jobs_of):
    """20k (score, label) rows: the evaluator launches at most the 10
    jobs it launched with its own hand-written cumsum (the shared helper
    skips the offsets join on one range partition, so it runs 9)."""
    rng = np.random.RandomState(11)
    y = rng.randint(0, 2, 20_000)
    s = np.round(rng.rand(20_000) + 0.3 * y, 6)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(s, y)],
        "score double, label double").localCheckpoint(eager=True)
    ev = BinaryClassificationEvaluator(labelCol="label",
                                       rawPredictionCol="score")
    auc, jobs = jobs_of("evaluator_job_count",
                        lambda: ev.transform(df)[0].first()["areaUnderROC"])
    assert auc == pytest.approx(_auc(s, y.astype(float)), abs=1e-12)
    assert len(jobs) <= 10
