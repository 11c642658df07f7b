"""Split-conformal prediction intervals for regression scores.

The calibration family's final leg: IsotonicRegression fixes WHERE the
probabilities sit, CalibrationEvaluator measures it, and conformal
intervals answer "how wrong can this prediction be?" with a
finite-sample guarantee — P(y ∈ [ŷ−q, ŷ+q]) ≥ 1−α whenever the
calibration split is exchangeable with serving data (Vovk et al.;
Lei et al. 2018 split-conformal).

q is the k-th smallest absolute residual on the calibration split with
k = ⌈(n+1)(1−α)⌉ — an ORDER STATISTIC, not an interpolated percentile
(interpolation breaks the coverage guarantee at small n).

Scale design: the k-th order statistic is computed distributedly —
``groupBy(residual)`` tie collapse, then ``dataflow.ordered_prefix_sums``
(the exact-KS / midrank geometry; no global single-task sort, nothing
corpus-sized collected); the threshold is the smallest residual whose
global cumulative count reaches k.  The model carries one double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..api import Estimator, Model
from ..common.dataflow import ordered_prefix_sums
from ..param import (FloatParam, HasLabelCol, HasPredictionCol,
                     ParamValidators, StringParam)


def _kth_smallest(df: DataFrame, col: str, k: int) -> float:
    """Exact k-th smallest value of ``col`` (1-based), distributed."""
    g = (df.groupBy(F.col(col).cast("double").alias("v"))
         .agg(F.count("*").alias("c")).persist())
    try:
        with ordered_prefix_sums(g, [F.col("v").asc()], ["c"],
                                 g.count()) as cum:
            return float(cum.filter(F.col("cum_c") >= k)
                         .agg(F.min("v")).first()[0])
    finally:
        g.unpersist()


class ConformalRegressor(Estimator, HasLabelCol, HasPredictionCol):
    """``fit(calibration_df)`` → model holding the conformal radius q;
    the calibration split must be disjoint from training data."""

    alpha = FloatParam("alpha", "Miscoverage level (coverage ≥ 1−α).",
                       0.1, ParamValidators.in_range(0, 1,
                                                     lower_inclusive=False,
                                                     upper_inclusive=False))

    def fit(self, *inputs: DataFrame) -> "ConformalRegressorModel":
        (df,) = inputs
        y = F.col(self.get_("labelCol")).cast("double")
        p = F.col(self.get_("predictionCol")).cast("double")
        scores = (df.filter(y.isNotNull() & p.isNotNull())
                  .select(F.abs(p - y).alias("s")))
        n = scores.count()
        if n == 0:
            raise ValueError("ConformalRegressor: empty calibration split")
        alpha = self.get_("alpha")
        import math
        from fractions import Fraction
        # exact rational rank: float ceil((n+1)*(1-alpha)) can land one
        # order statistic off when (n+1)(1-alpha) sits at an integer and
        # binary alpha carries last-ulp error (0.8*(n+1) = k±ε) — the
        # chosen q then differs per environment.  Fraction(str(alpha))
        # recovers the intended decimal exactly.
        k = math.ceil((n + 1) * (1 - Fraction(str(alpha))))
        if k > n:
            raise ValueError(
                f"ConformalRegressor: n={n} calibration rows cannot "
                f"certify coverage 1-alpha={1 - alpha} (needs k={k} ≤ n); "
                f"lower alpha or add calibration data")
        q = _kth_smallest(scores, "s", k)
        model = ConformalRegressorModel()
        model.set_(predictionCol=self.get_("predictionCol"))
        model.model_data = {"q": q, "n": int(n), "k": int(k),
                            "alpha": float(alpha)}
        return model


class ConformalRegressorModel(Model):
    predictionCol = StringParam("predictionCol", "Point prediction.",
                                "prediction")
    lowerCol = StringParam("lowerCol", "Interval lower bound.", "lower")
    upperCol = StringParam("upperCol", "Interval upper bound.", "upper")

    def _transform(self, df: DataFrame) -> DataFrame:
        q = float(self.model_data["q"])
        p = F.col(self.get_("predictionCol")).cast("double")
        return (df.withColumn(self.get_("lowerCol"), p - q)
                .withColumn(self.get_("upperCol"), p + q))

    def transform_local(self, pdf):
        q = float(self.model_data["q"])
        out = pdf.copy()
        pc = self.get_("predictionCol")
        out[self.get_("lowerCol")] = out[pc].astype(float) - q
        out[self.get_("upperCol")] = out[pc].astype(float) + q
        return out
