"""Stats tests + evaluator vs hand-computed / closed-form expectations."""

import math

import numpy as np
import pytest

from flink_ml_spark.common.special import betainc, chi2_sf, f_sf, gammq
from flink_ml_spark.evaluation import BinaryClassificationEvaluator
from flink_ml_spark.feature import UnivariateFeatureSelector
from flink_ml_spark.stats import ANOVATest, ChiSqTest, FValueTest


def test_special_functions():
    # references: chi2_sf(3.84, 1) ≈ 0.05; F_sf(4.0, 2, 10)
    assert chi2_sf(3.841458820694124, 1) == pytest.approx(0.05, abs=1e-6)
    assert chi2_sf(5.991464547107979, 2) == pytest.approx(0.05, abs=1e-6)
    # closed form: F_sf(4, 2, 10) = I_{10/18}(5, 1) = (5/9)^5
    assert f_sf(4.0, 2, 10) == pytest.approx((5 / 9) ** 5, abs=1e-10)
    # betainc symmetry
    assert betainc(2.0, 3.0, 0.4) == pytest.approx(1 - betainc(3.0, 2.0, 0.6), abs=1e-10)


def test_chisq(spark):
    # perfectly independent 2x2 → stat 0, p 1
    rows = [([0.0], 0.0)] * 5 + [([0.0], 1.0)] * 5 + [([1.0], 0.0)] * 5 + [([1.0], 1.0)] * 5
    df = spark.createDataFrame(rows, "features array<double>, label double")
    r = ChiSqTest(featuresCol="features", labelCol="label", flatten=True).transform(df)[0].collect()[0]
    assert r["statistic"] == pytest.approx(0.0)
    assert r["pValue"] == pytest.approx(1.0)
    assert r["degreeOfFreedom"] == 1


def test_chisq_dependent(spark):
    rows = [([0.0], 0.0)] * 10 + [([1.0], 1.0)] * 10
    df = spark.createDataFrame(rows, "features array<double>, label double")
    r = ChiSqTest(featuresCol="features", labelCol="label", flatten=True).transform(df)[0].collect()[0]
    assert r["statistic"] == pytest.approx(20.0)  # n for perfect association
    assert r["pValue"] < 1e-4


def test_anova(spark):
    # sklearn f_classif fixture: groups (1,2,3) vs (4,5,6)
    rows = [([1.0], 0.0), ([2.0], 0.0), ([3.0], 0.0),
            ([4.0], 1.0), ([5.0], 1.0), ([6.0], 1.0)]
    df = spark.createDataFrame(rows, "features array<double>, label double")
    r = ANOVATest(featuresCol="features", labelCol="label", flatten=True).transform(df)[0].collect()[0]
    # SSB = 13.5, SSW = 4, F = 13.5/ (4/4) = 13.5
    assert r["fValue"] == pytest.approx(13.5)
    # reference reports dfBetween + dfWithin = n - 1 (ANOVATest.java:241-243)
    assert r["degreeOfFreedom"] == 5


def test_fvalue(spark):
    rng = np.random.RandomState(3)
    x = rng.rand(50)
    y = 2 * x + rng.rand(50) * 0.1
    df = spark.createDataFrame([([float(a)], float(b)) for a, b in zip(x, y)],
                               "features array<double>, label double")
    r = FValueTest(featuresCol="features", labelCol="label", flatten=True).transform(df)[0].collect()[0]
    corr = np.corrcoef(x, y)[0, 1]
    expect = corr ** 2 / (1 - corr ** 2) * (50 - 2)
    assert r["fValue"] == pytest.approx(expect, rel=1e-6)


def test_auc_hand_computed(spark):
    # scores: pos {0.9, 0.8, 0.4}, neg {0.7, 0.3, 0.2}; of the 9 pairs the
    # positive outranks the negative in 8 (0.4 loses to 0.7) → AUC = 8/9
    rows = [(0.9, 1.0), (0.8, 1.0), (0.4, 1.0), (0.7, 0.0), (0.3, 0.0), (0.2, 0.0)]
    df = spark.createDataFrame(rows, "score double, label double")
    ev = BinaryClassificationEvaluator(labelCol="label", rawPredictionCol="score")
    r = ev.transform(df)[0].collect()[0]
    assert r["areaUnderROC"] == pytest.approx(8 / 9)


def test_auc_ties(spark):
    # tie handling: pos {0.5}, neg {0.5} → AUC 0.5
    rows = [(0.5, 1.0), (0.5, 0.0)]
    df = spark.createDataFrame(rows, "score double, label double")
    r = BinaryClassificationEvaluator(labelCol="label", rawPredictionCol="score") \
        .transform(df)[0].collect()[0]
    assert r["areaUnderROC"] == pytest.approx(0.5)
    assert r["ks"] == pytest.approx(0.0)


def test_auc_weighted(spark):
    # weight 2 on a positive = duplicating it
    rows_w = [(0.9, 1.0, 2.0), (0.4, 1.0, 1.0), (0.7, 0.0, 1.0)]
    rows_d = [(0.9, 1.0, 1.0), (0.9, 1.0, 1.0), (0.4, 1.0, 1.0), (0.7, 0.0, 1.0)]
    for rows in (rows_w,):
        df = spark.createDataFrame(rows, "score double, label double, w double")
        r1 = BinaryClassificationEvaluator(labelCol="label", rawPredictionCol="score",
                                           weightCol="w").transform(df)[0].collect()[0]
    df2 = spark.createDataFrame(rows_d, "score double, label double, w double")
    r2 = BinaryClassificationEvaluator(labelCol="label", rawPredictionCol="score",
                                       weightCol="w").transform(df2)[0].collect()[0]
    assert r1["areaUnderROC"] == pytest.approx(r2["areaUnderROC"])


def test_pr_lorenz_reference_conventions(spark):
    # perfectly separated 1 pos / 1 neg: the reference's first PR trapezoid
    # uses previous-precision = 1.0 → AUPRC = 1.0, and the Lorenz gain curve
    # accumulates descending → 0.75 (not the ascending complement 0.25)
    rows = [(0.9, 1.0), (0.1, 0.0)]
    df = spark.createDataFrame(rows, "score double, label double")
    r = BinaryClassificationEvaluator(labelCol="label", rawPredictionCol="score") \
        .transform(df)[0].collect()[0]
    assert r["areaUnderPR"] == pytest.approx(1.0)
    assert r["areaUnderLorenz"] == pytest.approx(0.75)
    assert r["areaUnderROC"] == pytest.approx(1.0)


def test_evaluator_plan_range_partitioned(spark):
    # at scale (more distinct scores than one partition's ~64k budget) the
    # cumulative stage must be range-partitioned (sampled boundaries, like
    # the reference), never an unpartitioned global-sort Window
    from pyspark.sql import functions as F
    df = spark.range(150_000).select(
        (F.col("id") / 150_000.0).alias("score"),
        (F.col("id") % 2).cast("double").alias("label"))
    ev = BinaryClassificationEvaluator(labelCol="label", rawPredictionCol="score")
    ev.transform(df)[0].collect()
    plan = ev.last_plan_
    assert "rangepartitioning" in plan
    assert "Window" not in plan


def test_evaluator_small_input_single_partition(spark):
    # tie collapse below the per-partition budget → the cumsum runs in ONE
    # partition (no 32-way Arrow fan-out for a few hundred rows) and the
    # metrics still match the distributed path
    rng = np.random.RandomState(7)
    rows = [(float(s), float(l)) for s, l in
            zip(rng.rand(500), rng.randint(0, 2, 500))]
    df = spark.createDataFrame(rows, "score double, label double")
    ev = BinaryClassificationEvaluator(labelCol="label", rawPredictionCol="score")
    r = ev.transform(df)[0].collect()[0]
    assert "rangepartitioning" not in ev.last_plan_
    assert 0.0 <= r["areaUnderROC"] <= 1.0


def test_univariate_selector(spark):
    rng = np.random.RandomState(4)
    n = 100
    y = rng.randint(0, 2, n).astype(float)
    informative = y * 2 + rng.randn(n) * 0.1
    noise = rng.randn(n)
    rows = [([float(a), float(b)], float(c))
            for a, b, c in zip(informative, noise, y)]
    df = spark.createDataFrame(rows, "features array<double>, label double")
    sel = UnivariateFeatureSelector(
        featuresCol="features", labelCol="label", outputCol="sel",
        featureType="continuous", labelType="categorical",
        selectionMode="numTopFeatures").set_(selectionThreshold=1.0)
    model = sel.fit(df)
    assert model.model_data["indices"] == [0]


def test_stats_unflattened_layout(spark):
    """flatten=False (reference default) → one row of arrays."""
    from flink_ml_spark.stats import ChiSqTest
    data = [([float(i % 2), float(i % 3)], float(i % 2)) for i in range(30)]
    df = spark.createDataFrame(data, "features array<double>, label double")
    out = ChiSqTest(featuresCol="features", labelCol="label").transform(df)[0]
    row = out.collect()[0]
    assert len(row["pValues"]) == 2
    assert len(row["degreesOfFreedom"]) == 2
    assert len(row["statistics"]) == 2


def test_mutual_information(spark):
    import math
    from flink_ml_spark.stats import MutualInformation
    # perfect dependence: y == x -> MI = H(X), NMI = 1
    dep = spark.createDataFrame(
        [("a", "a")] * 2 + [("b", "b")] * 2, "x string, y string")
    r = MutualInformation(xCol="x", yCol="y").transform(dep)[0].first()
    assert r["n"] == 4
    assert abs(r["mi"] - math.log(2)) < 1e-12
    assert abs(r["nmi"] - 1.0) < 1e-12
    # exact independence: balanced product distribution -> MI = 0
    ind = spark.createDataFrame(
        [(x, y) for x in "ab" for y in "cd" for _ in range(3)],
        "x string, y string")
    r = MutualInformation(xCol="x", yCol="y").transform(ind)[0].first()
    assert abs(r["mi"]) < 1e-12 and abs(r["nmi"]) < 1e-12
    # constant column: zero entropy -> nmi defined as 0
    const = spark.createDataFrame([("a", "c"), ("a", "d")],
                                  "x string, y string")
    r = MutualInformation(xCol="x", yCol="y").transform(const)[0].first()
    assert r["mi"] == 0.0 and r["nmi"] == 0.0
    # NULL is a category like any other: (a,a)x2 + (NULL,NULL)x2 is
    # perfect dependence over two categories -> MI = ln 2, NMI = 1
    # (ADVICE r04: null-unsafe joins used to drop the NULL cell from the
    # MI sum while n and the entropies kept it)
    nul = spark.createDataFrame(
        [("a", "a")] * 2 + [(None, None)] * 2, "x string, y string")
    r = MutualInformation(xCol="x", yCol="y").transform(nul)[0].first()
    assert r["n"] == 4
    assert abs(r["mi"] - math.log(2)) < 1e-12
    assert abs(r["nmi"] - 1.0) < 1e-12


def test_calibration_evaluator(spark):
    from flink_ml_spark.evaluation import CalibrationEvaluator
    # perfectly calibrated halves: p=0.25 with 1/4 positives, p=0.75
    # with 3/4 positives
    rows = ([(0.25, 1.0)] + [(0.25, 0.0)] * 3
            + [(0.75, 1.0)] * 3 + [(0.75, 0.0)])
    df = spark.createDataFrame(rows, "probability double, label double")
    bins, summary = CalibrationEvaluator(numBins=4).transform(df)
    s = summary.first()
    assert s["n"] == 8
    assert abs(s["ece"]) < 1e-12 and abs(s["mce"]) < 1e-12
    # brier for calibrated p: mean of p(1-p) pairs -> 0.1875 each group
    assert abs(s["brier"] - 0.1875) < 1e-12
    bd = {r["bin"]: r for r in bins.collect()}
    assert set(bd) == {1, 3} and bd[1]["n"] == 4
    assert abs(bd[1]["acc"] - 0.25) < 1e-12
    # maximally miscalibrated: confident and always wrong
    bad = spark.createDataFrame([(0.95, 0.0)] * 4,
                                "probability double, label double")
    s2 = CalibrationEvaluator(numBins=10).transform(bad)[1].first()
    assert abs(s2["ece"] - 0.95) < 1e-12
    assert abs(s2["mce"] - 0.95) < 1e-12
    assert abs(s2["brier"] - 0.95 ** 2) < 1e-12
    # p = 1.0 lands in the top bin, not an overflow bin
    edge = spark.createDataFrame([(1.0, 1.0), (0.0, 0.0)],
                                 "probability double, label double")
    b3 = {r["bin"] for r in CalibrationEvaluator(numBins=10)
          .transform(edge)[0].collect()}
    assert b3 == {0, 9}


def test_regression_evaluator(spark):
    from flink_ml_spark.evaluation import RegressionEvaluator
    # hand-computed: y=[1,2,3,4], p=[1,2,4,2] -> e=[0,0,1,-2]
    df = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 2.0), (3.0, 4.0), (4.0, 2.0)],
        "label double, prediction double")
    r = RegressionEvaluator().transform(df)[0].first()
    assert r["n"] == 4
    assert r["mse"] == pytest.approx(5 / 4)
    assert r["rmse"] == pytest.approx(math.sqrt(5 / 4))
    assert r["mae"] == pytest.approx(3 / 4)
    # SST = sum(y^2) - (sum y)^2/n = 30 - 25 = 5 -> r2 = 1 - 5/5 = 0
    assert r["r2"] == pytest.approx(0.0)
    # perfect predictions -> r2 = 1, all errors 0
    perfect = spark.createDataFrame([(x, x) for x in (1.0, 2.0, 5.0)],
                                    "label double, prediction double")
    r2 = RegressionEvaluator().transform(perfect)[0].first()
    assert r2["mse"] == 0.0 and r2["r2"] == pytest.approx(1.0)
    # constant label -> SST=0 -> r2 is NaN, not a crash
    const = spark.createDataFrame([(2.0, 1.0), (2.0, 3.0)],
                                  "label double, prediction double")
    r3 = RegressionEvaluator().transform(const)[0].first()
    assert math.isnan(r3["r2"]) and r3["mse"] == pytest.approx(1.0)
    # weighted: weight 3 on the first row == repeating it 3x
    w = spark.createDataFrame([(1.0, 2.0, 3.0), (3.0, 3.0, 1.0)],
                              "label double, prediction double, w double")
    rw = RegressionEvaluator(weightCol="w").transform(w)[0].first()
    assert rw["n"] == 4 and rw["mse"] == pytest.approx(3 / 4)


def test_multiclass_evaluator(spark):
    from flink_ml_spark.evaluation import MulticlassClassificationEvaluator
    # 3-class confusion, hand-computed:
    # y: 0,0,1,1,2,2   p: 0,1,1,1,2,0
    df = spark.createDataFrame(
        [(0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (1.0, 1.0),
         (2.0, 2.0), (2.0, 0.0)], "label double, prediction double")
    per, summ = MulticlassClassificationEvaluator().transform(df)
    pc = {r["label"]: r for r in per.collect()}
    assert pc[0.0]["tp"] == 1 and pc[0.0]["fp"] == 1 and pc[0.0]["fn"] == 1
    assert pc[0.0]["precision"] == pytest.approx(0.5)
    assert pc[0.0]["recall"] == pytest.approx(0.5)
    assert pc[1.0]["precision"] == pytest.approx(2 / 3)
    assert pc[1.0]["recall"] == pytest.approx(1.0)
    assert pc[2.0]["precision"] == pytest.approx(1.0)
    assert pc[2.0]["recall"] == pytest.approx(0.5)
    s = summ.first()
    assert s["n"] == 6 and s["accuracy"] == pytest.approx(4 / 6)
    f1s = [0.5, 0.8, 2 / 3]
    assert s["macro_f1"] == pytest.approx(sum(f1s) / 3)
    assert s["weighted_f1"] == pytest.approx(sum(f * 2 for f in f1s) / 6)
    # a class PREDICTED but never true appears with n=0 and recall 0,
    # and does not pollute macro averages (observed-true classes only)
    skew = spark.createDataFrame([(0.0, 0.0), (0.0, 5.0)],
                                 "label double, prediction double")
    per2, summ2 = MulticlassClassificationEvaluator().transform(skew)
    pc2 = {r["label"]: r for r in per2.collect()}
    assert pc2[5.0]["n"] == 0 and pc2[5.0]["precision"] == 0.0
    assert summ2.first()["macro_f1"] == pytest.approx(2 / 3)  # only class 0
    # weighted rows == repetition
    w = spark.createDataFrame([(0.0, 0.0, 2.0), (0.0, 1.0, 1.0),
                               (1.0, 1.0, 3.0)],
                              "label double, prediction double, w double")
    sw = MulticlassClassificationEvaluator(weightCol="w").transform(w)[1].first()
    assert sw["n"] == 6 and sw["accuracy"] == pytest.approx(5 / 6)
    # maxClasses guard fails fast on id-like labels
    ids = spark.createDataFrame([(float(i), float(i)) for i in range(40)],
                                "label double, prediction double")
    with pytest.raises(ValueError, match="maxClasses"):
        MulticlassClassificationEvaluator(maxClasses=10).transform(ids)
    # null labels/predictions are excluded, not a crash (ADVICE r05)
    nul = spark.createDataFrame(
        [(1.0, 1.0), (None, 1.0), (0.0, None), (0.0, 0.0)],
        "label double, prediction double")
    sn = MulticlassClassificationEvaluator().transform(nul)[1].first()
    assert sn["n"] == 2 and sn["accuracy"] == pytest.approx(1.0)


def test_kolmogorov_smirnov(spark):
    from flink_ml_spark.common.special import kolmogorov_sf
    from flink_ml_spark.stats import KolmogorovSmirnovTest
    # identical samples -> D = 0, p = 1
    same = spark.createDataFrame(
        [(v, g) for v in (1.0, 2.0, 3.0) for g in ("a", "b")],
        "value double, group string")
    r = KolmogorovSmirnovTest().transform(same)[0].first()
    assert r["statistic"] == 0.0 and r["p_value"] == 1.0
    assert r["n_a"] == 3 and r["n_b"] == 3
    # disjoint supports -> D = 1; p matches the asymptotic formula
    disj = spark.createDataFrame(
        [(1.0, "a"), (2.0, "a"), (3.0, "a"),
         (14.0, "b"), (15.0, "b"), (16.0, "b")], "value double, group string")
    r = KolmogorovSmirnovTest().transform(disj)[0].first()
    assert r["statistic"] == pytest.approx(1.0)
    ne = 9 / 6
    lam = (math.sqrt(ne) + 0.12 + 0.11 / math.sqrt(ne)) * 1.0
    assert r["p_value"] == pytest.approx(kolmogorov_sf(lam), abs=1e-12)
    # a hand-checkable middle case, brute-force ECDF sup-diff
    av = [1.0, 2.0, 3.0, 4.0]
    bv = [2.5, 3.5, 4.5, 5.5]
    pts = sorted(av + bv)
    d_true = max(abs(sum(x <= p for x in av) / 4 - sum(x <= p for x in bv) / 4)
                 for p in pts)
    mid = spark.createDataFrame([(v, "x") for v in av] + [(v, "y") for v in bv],
                                "value double, group string")
    r = KolmogorovSmirnovTest().transform(mid)[0].first()
    assert r["statistic"] == pytest.approx(d_true)
    # ties across groups count correctly (shared value collapses)
    # kolmogorov_sf sanity: monotone decreasing, endpoints
    assert kolmogorov_sf(0.0) == 1.0
    assert kolmogorov_sf(0.5) > kolmogorov_sf(1.0) > kolmogorov_sf(2.0)
    # >2 groups fails fast
    three = spark.createDataFrame([(1.0, "a"), (2.0, "b"), (3.0, "c")],
                                  "value double, group string")
    with pytest.raises(ValueError, match="exactly 2 groups"):
        KolmogorovSmirnovTest().transform(three)
    # explicit groupA must exist
    with pytest.raises(ValueError, match="not present"):
        KolmogorovSmirnovTest(groupA="zzz").transform(same)


def test_spearman(spark):
    from flink_ml_spark.stats import SpearmanCorrelation
    # perfect monotone (nonlinear!) relation -> rho = 1, p = 0
    mono = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 4.0), (3.0, 9.0), (4.0, 16.0), (5.0, 125.0)],
        "x double, y double")
    r = SpearmanCorrelation().transform(mono)[0].first()
    assert r["rho"] == pytest.approx(1.0) and r["p_value"] == 0.0
    # reversed -> -1
    rev = spark.createDataFrame(
        [(1.0, 5.0), (2.0, 4.0), (3.0, 3.0), (4.0, 2.0), (5.0, 1.0)],
        "x double, y double")
    assert SpearmanCorrelation().transform(rev)[0].first()["rho"] == pytest.approx(-1.0)
    # average-tie midranks, hand-computed vs numpy Pearson of midranks
    xs = [1.0, 1.0, 2.0, 3.0, 3.0, 3.0]
    ys = [3.0, 5.0, 4.0, 1.0, 1.0, 9.0]
    def midranks(vs):
        out = []
        for v in vs:
            less = sum(1 for u in vs if u < v)
            eq = sum(1 for u in vs if u == v)
            out.append(less + (eq + 1) / 2)
        return np.array(out)
    expected = float(np.corrcoef(midranks(xs), midranks(ys))[0, 1])
    df = spark.createDataFrame(list(zip(xs, ys)), "x double, y double")
    r = SpearmanCorrelation().transform(df)[0].first()
    assert r["n"] == 6 and r["rho"] == pytest.approx(expected, abs=1e-12)
    # nulls are dropped pairwise
    withnull = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 2.0), (None, 9.0), (3.0, None), (4.0, 4.0)],
        "x double, y double")
    r = SpearmanCorrelation().transform(withnull)[0].first()
    assert r["n"] == 3 and r["rho"] == pytest.approx(1.0)
    # constant column -> NaN, not a crash
    const = spark.createDataFrame([(1.0, 2.0), (2.0, 2.0), (3.0, 2.0)],
                                  "x double, y double")
    assert math.isnan(SpearmanCorrelation().transform(const)[0].first()["rho"])


def test_paired_ttest(spark):
    from flink_ml_spark.common.special import f_sf
    from flink_ml_spark.stats import PairedTTest
    # hand-computed: d = [1, 2, 3] -> mean 2, var 1, t = 2/sqrt(1/3)
    df = spark.createDataFrame([(0.0, 1.0), (1.0, 3.0), (2.0, 5.0)],
                               "a double, b double")
    r = PairedTTest().transform(df)[0].first()
    assert r["n"] == 3 and r["mean_diff"] == pytest.approx(2.0)
    t_exp = 2.0 / math.sqrt(1.0 / 3.0)
    assert r["t"] == pytest.approx(t_exp)
    assert r["p_value"] == pytest.approx(f_sf(t_exp ** 2, 1, 2), abs=1e-12)
    # no difference -> t = 0, p = 1
    same = spark.createDataFrame([(1.0, 1.0), (2.0, 3.0), (3.0, 2.0)],
                                 "a double, b double")
    r2 = PairedTTest().transform(same)[0].first()
    assert r2["mean_diff"] == pytest.approx(0.0)
    assert r2["p_value"] == pytest.approx(f_sf(r2["t"] ** 2, 1, 2), abs=1e-12)
    # identical nonzero differences -> infinite t, p = 0
    const = spark.createDataFrame([(0.0, 1.0), (5.0, 6.0)], "a double, b double")
    r3 = PairedTTest().transform(const)[0].first()
    assert math.isinf(r3["t"]) and r3["p_value"] == 0.0
    # nulls dropped pairwise; n<2 -> NaN
    nulls = spark.createDataFrame([(1.0, None), (None, 2.0), (1.0, 2.0)],
                                  "a double, b double")
    r4 = PairedTTest().transform(nulls)[0].first()
    assert r4["n"] == 1 and math.isnan(r4["t"])


def test_spearman_matches_numpy_randomized(spark):
    """Randomized parity: SpearmanCorrelation vs an independent numpy
    midrank+Pearson recomputation, across tie densities."""
    from flink_ml_spark.stats import SpearmanCorrelation
    rng = np.random.RandomState(42)
    for trial, card in enumerate((3, 10, 1000)):  # heavy ties -> near-unique
        xs = rng.randint(0, card, 200).astype(float)
        ys = (xs * rng.choice([-1.0, 1.0])
              + rng.randint(0, card, 200)).astype(float)
        def mid(vs):
            out = []
            for v in vs:
                out.append((vs < v).sum() + ((vs == v).sum() + 1) / 2)
            return np.array(out, dtype=float)
        exp = float(np.corrcoef(mid(xs), mid(ys))[0, 1])
        df = spark.createDataFrame(
            [(float(a), float(b)) for a, b in zip(xs, ys)],
            "x double, y double")
        got = SpearmanCorrelation().transform(df)[0].first()["rho"]
        assert got == pytest.approx(exp, abs=1e-9), (trial, card)


def test_ks_matches_bruteforce_randomized(spark):
    """Randomized parity: KS statistic vs brute-force ECDF sup-diff."""
    from flink_ml_spark.stats import KolmogorovSmirnovTest
    rng = np.random.RandomState(7)
    for shift in (0.0, 0.5, 3.0):
        a = rng.randn(150)
        b = rng.randn(120) + shift
        # quantize to force cross-group ties
        a = np.round(a, 1)
        b = np.round(b, 1)
        pts = np.unique(np.concatenate([a, b]))
        d_true = max(abs((a <= p).mean() - (b <= p).mean()) for p in pts)
        rows = [(float(v), "a") for v in a] + [(float(v), "b") for v in b]
        df = spark.createDataFrame(rows, "value double, group string")
        got = KolmogorovSmirnovTest().transform(df)[0].first()["statistic"]
        assert got == pytest.approx(d_true, abs=1e-12), shift


def test_pagerank_matches_numpy_power_iteration(spark):
    """Randomized parity: distributed PageRank vs a dense numpy power
    iteration with the same dangling handling."""
    from flink_ml_spark.llmdata import PageRank
    rng = np.random.RandomState(3)
    n, d = 25, 0.85
    edges = sorted({(int(rng.randint(0, n)), int(rng.randint(0, n)))
                    for _ in range(60)})
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    idx = {v: i for i, v in enumerate(nodes)}
    m = len(nodes)
    deg = np.zeros(m)
    for u, _ in edges:
        deg[idx[u]] += 1
    r = np.full(m, 1.0 / m)
    for _ in range(15):
        contrib = np.zeros(m)
        for u, v in edges:
            contrib[idx[v]] += r[idx[u]] / deg[idx[u]]
        dang = r[deg == 0].sum()
        r = (1 - d) / m + d * (contrib + dang / m)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {row["v"]: row["rank"] for row in
           PageRank(maxIter=15, damping=d).transform(df)[0].collect()}
    for v in nodes:
        assert got[v] == pytest.approx(r[idx[v]], abs=1e-12), v


def test_new_operator_persistence_roundtrip(spark, tmp_path):
    """Param save/load round-trip for this session's stateless operators
    (the Stage persistence contract every stage honors)."""
    from flink_ml_spark.api import Stage
    from flink_ml_spark.evaluation import (MulticlassClassificationEvaluator,
                                           RegressionEvaluator)
    from flink_ml_spark.llmdata import (FuzzyStringJoin, KeySkewProfiler,
                                        NegativeSampler, PageRank,
                                        VocabGrowthProfiler)
    from flink_ml_spark.stats import (KolmogorovSmirnovTest, PairedTTest,
                                      SpearmanCorrelation)
    stages = [
        RegressionEvaluator(labelCol="y", predictionCol="p"),
        MulticlassClassificationEvaluator(maxClasses=77),
        KolmogorovSmirnovTest(valueCol="v", groupCol="g", groupA="x"),
        SpearmanCorrelation(xCol="a", yCol="b"),
        PairedTTest(aCol="m1", bCol="m2"),
        NegativeSampler(k=7, margin=4, salt=13, numBuckets=32),
        PageRank(maxIter=3, damping=0.5),
        KeySkewProfiler(inputCol="src", topK=3, maxKeys=1000),
        VocabGrowthProfiler(idCol="i", inputCol="t", numSlices=4),
        FuzzyStringJoin(maxDistance=4, firstTokenBlock=1, keepBest=2),
    ]
    for i, st in enumerate(stages):
        p = str(tmp_path / f"stage_{i}")
        st.save(p)
        back = Stage.load(spark, p)
        assert type(back) is type(st), type(back)
        for p in st.params():
            assert back.get_(p.name) == st.get_(p.name), (type(st), p.name)
    # loaded operator actually runs: PageRank after round-trip
    pr = Stage.load(spark, str(tmp_path / "stage_6"))
    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    out = {r["v"]: r["rank"] for r in pr.transform(edges)[0].collect()}
    assert abs(sum(out.values()) - 1.0) < 1e-9


def test_conformal_regressor(spark):
    from flink_ml_spark.regression import ConformalRegressor
    # residuals |p-y| on calibration: [1,2,3,...,10]; alpha=0.2, n=10
    # -> k = ceil(11*0.8) = 9 -> q = 9
    rows = [(float(i), 0.0) for i in range(1, 11)]
    calib = spark.createDataFrame(rows, "label double, prediction double")
    m = ConformalRegressor(alpha=0.2).fit(calib)
    assert m.model_data["k"] == 9 and m.model_data["q"] == 9.0
    # intervals: prediction +/- q
    test = spark.createDataFrame([(100.0,)], "prediction double")
    r = m.transform(test)[0].first()
    assert r["lower"] == 91.0 and r["upper"] == 109.0
    # transform_local parity
    import pandas as pd
    loc = m.transform_local(pd.DataFrame({"prediction": [100.0]}))
    assert loc["lower"][0] == 91.0 and loc["upper"][0] == 109.0
    # empirical coverage >= 1 - alpha on exchangeable data
    rng = np.random.RandomState(0)
    y = rng.randn(2000)
    p = y + rng.randn(2000) * 0.5
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(y, p)],
        "label double, prediction double")
    calib2 = df.limit(1000)
    m2 = ConformalRegressor(alpha=0.1).fit(calib2)
    ev = m2.transform(df.subtract(calib2))[0]
    from pyspark.sql import functions as F
    cov = ev.select(F.avg(((F.col("label") >= F.col("lower"))
                           & (F.col("label") <= F.col("upper")))
                          .cast("double"))).first()[0]
    assert cov >= 0.85  # 1-alpha=0.9 minus sampling slack
    # ties in residuals: k-th order statistic respects multiplicity
    tied = spark.createDataFrame(
        [(1.0, 0.0)] * 5 + [(9.0, 0.0)] * 5, "label double, prediction double")
    mt = ConformalRegressor(alpha=0.5).fit(tied)  # k = ceil(11*.5) = 6
    assert mt.model_data["q"] == 9.0
    # infeasible coverage fails loudly
    import pytest as _p
    tiny = spark.createDataFrame([(1.0, 0.0)], "label double, prediction double")
    with _p.raises(ValueError, match="cannot certify"):
        ConformalRegressor(alpha=0.1).fit(tiny)


def test_sliced_auc_matches_global_per_group(spark):
    from pyspark.sql import functions as F
    from flink_ml_spark.evaluation import (BinaryClassificationEvaluator,
                                           SlicedBinaryClassificationEvaluator)
    rng = np.random.RandomState(11)
    rows = []
    for grp, sep in (("a", 1.5), ("b", 0.2), ("c", 0.0)):
        for _ in range(120):
            y = float(rng.randint(0, 2))
            # ties on purpose: scores rounded to 1 decimal
            s = round(float(rng.randn() + sep * y), 1)
            rows.append((grp, s, y))
    df = spark.createDataFrame(rows, "grp string, score double, label double")
    sliced = {r["grp"]: r for r in SlicedBinaryClassificationEvaluator(
        groupCol="grp", labelCol="label", rawPredictionCol="score")
        .transform(df)[0].collect()}
    for grp in ("a", "b", "c"):
        sub = df.filter(F.col("grp") == grp)
        ref = BinaryClassificationEvaluator(
            labelCol="label", rawPredictionCol="score") \
            .transform(sub)[0].first()["areaUnderROC"]
        assert sliced[grp]["auc"] == pytest.approx(ref, abs=1e-12), grp
        assert sliced[grp]["n"] == 120
    # single-class slice -> NaN, not a crash
    one = spark.createDataFrame([("z", 0.5, 1.0), ("z", 0.2, 1.0)],
                                "grp string, score double, label double")
    r = SlicedBinaryClassificationEvaluator(
        groupCol="grp", labelCol="label", rawPredictionCol="score") \
        .transform(one)[0].first()
    assert math.isnan(r["auc"]) and r["n_pos"] == 2


def test_sliced_auc_dominant_slice_multipartition(spark, monkeypatch):
    """One slice holding ~95% of all distinct scores must produce the
    same AUC when the composite (group, score) cumsum spans MANY range
    partitions (the r05 per-group Window ran such a slice in a single
    task; the replacement must be correct with its per-(partition,
    group) offsets and cross-batch carry, nulls included)."""
    from pyspark.sql import functions as F
    from flink_ml_spark.evaluation import (
        BinaryClassificationEvaluator, SlicedBinaryClassificationEvaluator)
    from flink_ml_spark.common import dataflow
    monkeypatch.setattr(dataflow, "ROWS_PER_PART", 40)
    rng = np.random.RandomState(5)
    rows = []
    for i in range(1200):  # dominant slice: distinct-ish scores + ties
        y = float(rng.randint(0, 2))
        rows.append(("big", round(float(rng.randn() + 0.7 * y), 2), y))
    for grp in ("s1", None):  # small slices, one of them NULL
        for _ in range(30):
            y = float(rng.randint(0, 2))
            rows.append((grp, round(float(rng.randn() + y), 1), y))
    df = spark.createDataFrame(rows,
                               "grp string, score double, label double")
    out = {r["grp"]: r for r in SlicedBinaryClassificationEvaluator(
        groupCol="grp", labelCol="label", rawPredictionCol="score")
        .transform(df)[0].collect()}
    assert set(out) == {"big", "s1", None}
    for grp in ("big", "s1", None):
        cond = (F.col("grp").isNull() if grp is None
                else (F.col("grp") == grp))
        ref = BinaryClassificationEvaluator(
            labelCol="label", rawPredictionCol="score") \
            .transform(df.filter(cond))[0].first()["areaUnderROC"]
        assert out[grp]["auc"] == pytest.approx(ref, abs=1e-12), grp


def test_platt_calibrator_recovers_sigmoid(spark):
    """Scores generated from a known sigmoid: labels y=1 with probability
    sigma(2s-1) by deterministic thresholding -> the fitted (A, B) map
    must reorder probabilities monotonically and calibrate the halves:
    mean calibrated probability ~ empirical positive rate per side."""
    import math
    from flink_ml_spark.regression import PlattCalibrator
    rows = []
    for i in range(400):
        s = (i % 100) / 50.0 - 1.0  # scores in [-1, 1)
        p = 1.0 / (1.0 + math.exp(-(2.0 * s - 0.2)))
        y = 1.0 if ((i * 2654435761 + 7) % 1000) / 1000.0 < p else 0.0
        rows.append((s, y))
    df = spark.createDataFrame(rows, "score double, label double")
    m = PlattCalibrator(maxIter=60, learningRate=1.0, tol=0.0,
                        globalBatchSize=1 << 40).fit(df)
    a, b = m.model_data["a"], m.model_data["b"]
    assert a > 0.5, (a, b)  # monotone-increasing map recovered
    out = m.transform(df)[0]
    import pyspark.sql.functions as F
    agg = (out.withColumn("side", (F.col("score") > 0).cast("int"))
           .groupBy("side")
           .agg(F.avg("calibrated").alias("pc"),
                F.avg("label").alias("pe")).collect())
    for r in agg:
        assert abs(r["pc"] - r["pe"]) < 0.08, (r["side"], r["pc"], r["pe"])
    # local serving parity
    import pandas as pd
    pdf = pd.DataFrame({"score": [-0.5, 0.0, 0.5]})
    loc = m.transform_local(pdf)["calibrated"].tolist()
    assert loc == sorted(loc)


def test_platt_calibrator_rejects_nonbinary(spark):
    import pytest as _pytest
    from flink_ml_spark.regression import PlattCalibrator
    df = spark.createDataFrame([(0.1, 2.0)], "score double, label double")
    with _pytest.raises(ValueError, match="0/1"):
        PlattCalibrator().fit(df)


def test_two_proportion_z_test(spark):
    from flink_ml_spark.stats import TwoProportionZTest
    rows = [("A", 1)] * 30 + [("A", 0)] * 70 + \
           [("B", 1)] * 45 + [("B", 0)] * 55
    df = spark.createDataFrame(rows, "grp string, y int")
    r = TwoProportionZTest(groupCol="grp", outcomeCol="y") \
        .transform(df)[0].first()
    assert (r["n1"], r["x1"], r["n2"], r["x2"]) == (100, 30, 100, 45)
    # hand calc: p1=.3 p2=.45 pp=.375 -> z = -.15/sqrt(.375*.625*.02)
    assert r["z"] == pytest.approx(-2.1908902300206647)
    # two-sided p for |z|=2.19 ~ 0.02846 (z^2 ~ chi2_1)
    assert r["p_value"] == pytest.approx(0.02846, abs=2e-4)
    # identical outcomes -> z=0, p=1
    const = spark.createDataFrame([("A", 1), ("B", 1)], "grp string, y int")
    r0 = TwoProportionZTest(groupCol="grp", outcomeCol="y") \
        .transform(const)[0].first()
    assert (r0["z"], r0["p_value"]) == (0.0, 1.0)
    with pytest.raises(ValueError, match="2 groups"):
        TwoProportionZTest(groupCol="grp", outcomeCol="y").transform(
            spark.createDataFrame([("A", 1)], "grp string, y int"))


def test_mann_whitney_u_test(spark):
    from flink_ml_spark.stats import MannWhitneyUTest
    # A = 1..10, B = 6..15: U1 = 10 full wins + 5 half-ties = 12.5
    rows = [("A", float(i)) for i in range(1, 11)] + \
           [("B", float(i)) for i in range(6, 16)]
    df = spark.createDataFrame(rows, "grp string, val double")
    r = MannWhitneyUTest(groupCol="grp", valueCol="val") \
        .transform(df)[0].first()
    assert (r["n1"], r["n2"], r["u1_x2"]) == (10, 10, 25)
    # tie-corrected normal approximation (matches
    # scipy.stats.mannwhitneyu(method="asymptotic", use_continuity=False))
    assert r["z"] == pytest.approx(-2.840077065125004)
    assert r["p_value"] == pytest.approx(0.004510, abs=2e-5)
    # symmetric inputs -> U1 = n1*n2/2, z = 0
    sym = spark.createDataFrame(
        [("A", 1.0), ("A", 3.0), ("B", 1.0), ("B", 3.0)],
        "grp string, val double")
    r0 = MannWhitneyUTest(groupCol="grp", valueCol="val") \
        .transform(sym)[0].first()
    assert r0["u1_x2"] == 4 and r0["z"] == 0.0
    # all values identical -> degenerate, z=0/p=1
    const = spark.createDataFrame([("A", 2.0), ("B", 2.0)],
                                  "grp string, val double")
    rc = MannWhitneyUTest(groupCol="grp", valueCol="val") \
        .transform(const)[0].first()
    assert (rc["z"], rc["p_value"]) == (0.0, 1.0)
    with pytest.raises(ValueError, match="2 groups"):
        MannWhitneyUTest(groupCol="grp", valueCol="val").transform(
            spark.createDataFrame([("A", 1.0)], "grp string, val double"))


def test_cohen_kappa(spark):
    from flink_ml_spark.stats import CohenKappaTest
    # classic 2x2: a/b agree on 20 yes + 15 no, disagree 10 + 5
    rows = ([("y", "y")] * 20 + [("n", "n")] * 15
            + [("y", "n")] * 10 + [("n", "y")] * 5)
    df = spark.createDataFrame(rows, "a string, b string")
    r = CohenKappaTest(aCol="a", bCol="b").transform(df)[0].first()
    n = 50
    po = 35 / n
    pe = (30 * 25 + 20 * 25) / (n * n)
    assert (r["n"], r["agree"]) == (50, 35)
    assert r["kappa"] == pytest.approx((po - pe) / (1 - pe))
    # perfect agreement -> kappa 1; degenerate single category -> 0
    perf = spark.createDataFrame([("x", "x")] * 5, "a string, b string")
    assert CohenKappaTest(aCol="a", bCol="b").transform(perf)[0] \
        .first()["kappa"] == 0.0  # pe == 1 convention
    two = spark.createDataFrame([("x", "x"), ("z", "z")],
                                "a string, b string")
    assert CohenKappaTest(aCol="a", bCol="b").transform(two)[0] \
        .first()["kappa"] == pytest.approx(1.0)
    with pytest.raises(ValueError, match="no co-rated"):
        CohenKappaTest(aCol="a", bCol="b").transform(
            spark.createDataFrame([(None, "x")], "a string, b string"))
