"""LogisticRegression, LinearSVC, LinearRegression — shared SGD driver loop.

Reference:
- classification/logisticregression/LogisticRegression.java:48 (binary LR,
  parallel mini-batch SGD, weightCol; model = coefficient vector)
- classification/linearsvc/LinearSVC.java:48 (hinge loss)
- regression/linearregression/LinearRegression.java:48 (least squares)

Fit = driver-loop SGD (common/optimizer.py — JVM-expression gradients);
transform = lazy margin expression against the literal coefficient vector.
The servable path (LogisticRegressionModelServable.java:44) maps to
``transform_local``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..api import Estimator, Model
from ..common import sqltext as S, vector as V
from ..common.optimizer import (BinaryLogisticLoss, HingeLoss, HuberLoss,
                                LeastSquareLoss, PinballLoss, dot_lit, sgd)
from ..param import (FloatParam, HasElasticNet, HasFeaturesCol,
                     HasGlobalBatchSize, HasLabelCol, HasLearningRate,
                     HasMaxIter, HasMultiClass, HasPredictionCol,
                     HasRawPredictionCol, HasReg, HasTol, HasWeightCol,
                     IntParam, ParamValidators)


class _LinearEstimatorBase(Estimator, HasFeaturesCol, HasLabelCol, HasWeightCol,
                           HasMaxIter, HasTol, HasReg, HasElasticNet,
                           HasLearningRate, HasGlobalBatchSize,
                           HasPredictionCol, HasRawPredictionCol):
    _loss = None
    _model_cls = None

    weightRounding = IntParam(
        "weightRounding", "Round coefficients to this many decimals after "
        "each SGD round (0 = off) — cross-engine reproducibility aid.", 0,
        ParamValidators.gt_eq(0))

    def fit(self, *inputs: DataFrame) -> "Model":
        (df,) = inputs
        fcol = self.get_("featuresCol")
        # dim is inferred from sgd's cache (no extra job through the
        # possibly-expensive upstream pipeline)
        w, losses = sgd(
            df, fcol, self.get_("labelCol"), self.get_("weightCol"),
            self._loss, None,
            max_iter=self.get_("maxIter"), learning_rate=self.get_("learningRate"),
            global_batch_size=self.get_("globalBatchSize"), tol=self.get_("tol"),
            reg=self.get_("reg"), elastic_net=self.get_("elasticNet"),
            weight_decimals=self.get_("weightRounding"))
        model = self._model_cls()
        model.set_(featuresCol=fcol, predictionCol=self.get_("predictionCol"),
                   rawPredictionCol=self.get_("rawPredictionCol"))
        model.model_data = {"coefficient": w.tolist(), "losses": losses}
        return model


class _LinearModelBase(Model, HasFeaturesCol, HasPredictionCol, HasRawPredictionCol):
    def _margin(self, df: DataFrame) -> str:
        """SQL text of w·x against the literal coefficients; sparse inputs
        use the sparse-native form Σ v·w[i] over (indices, values) — no
        densify."""
        fcol = self.get_("featuresCol")
        f = S.name(fcol)
        w = np.array(self.model_data["coefficient"])
        if V.is_sparse_type(df, fcol):
            return (f"aggregate(zip_with({f}.`indices`, {f}.`values`, "
                    f"(i, v) -> v * element_at({S.double_array(w)}, i + 1)), "
                    f"0.0D, (acc, x) -> acc + x)")
        return dot_lit(f"CAST({f} AS ARRAY<DOUBLE>)", w)

    def _margin_local(self, pdf):
        """w·x for pandas rows: dense lists/arrays or sparse struct dicts
        (as produced by Arrow toPandas)."""
        w = np.array(self.model_data["coefficient"])
        col = pdf[self.get_("featuresCol")]
        if len(col) and isinstance(col.iloc[0], dict):
            return np.array([
                sum(float(v) * w[int(i)]
                    for i, v in zip(r["indices"], r["values"]))
                for r in col])
        if not len(col):
            return np.zeros(0)
        return np.stack([np.asarray(x, dtype=float) for x in col]) @ w


class LogisticRegressionModel(_LinearModelBase):
    def _transform(self, df: DataFrame) -> DataFrame:
        p = f"(1.0D / (1.0D + exp(-({self._margin(df)}))))"
        return df.withColumns({
            self.get_("rawPredictionCol"): F.expr(f"array(1.0D - {p}, {p})"),
            self.get_("predictionCol"):
                F.expr(f"CASE WHEN {p} >= 0.5D THEN 1.0D ELSE 0.0D END")})

    def transform_local(self, pdf):
        """Servable path (LogisticRegressionModelServable.java:44-112);
        accepts dense rows or sparse struct dicts via _margin_local."""
        p1 = 1.0 / (1.0 + np.exp(-self._margin_local(pdf)))
        out = pdf.copy()
        out[self.get_("rawPredictionCol")] = [np.array([1 - p, p]) for p in p1]
        out[self.get_("predictionCol")] = (p1 >= 0.5).astype(float)
        return out


class LogisticRegression(_LinearEstimatorBase, HasMultiClass):
    """Binary LR via full/mini-batch gradient descent.  Like the
    reference (LogisticRegression.java:62-65), only auto/binomial are
    supported — multinomial raises."""

    def fit(self, *inputs):
        if self.get_("multiClass") not in ("auto", "binomial"):
            raise ValueError(
                "Multinomial classification is not supported yet. "
                "Supported options: [auto, binomial].")
        return super().fit(*inputs)

    _loss = BinaryLogisticLoss
    _model_cls = LogisticRegressionModel


class LinearSVCModel(_LinearModelBase):
    def _transform(self, df: DataFrame) -> DataFrame:
        m = self._margin(df)
        return df.withColumns({
            self.get_("rawPredictionCol"): F.expr(m),
            self.get_("predictionCol"):
                F.expr(f"CASE WHEN {m} >= 0.0D THEN 1.0D ELSE 0.0D END")})

    def transform_local(self, pdf):
        m = self._margin_local(pdf)
        out = pdf.copy()
        out[self.get_("rawPredictionCol")] = m
        out[self.get_("predictionCol")] = (m >= 0.0).astype(float)
        return out


class LinearSVC(_LinearEstimatorBase):
    _loss = HingeLoss
    _model_cls = LinearSVCModel


class LinearRegressionModel(_LinearModelBase):
    def _transform(self, df: DataFrame) -> DataFrame:
        return df.withColumns({self.get_("predictionCol"): F.expr(self._margin(df))})

    def transform_local(self, pdf):
        out = pdf.copy()
        out[self.get_("predictionCol")] = self._margin_local(pdf)
        return out


class LinearRegression(_LinearEstimatorBase):
    _loss = LeastSquareLoss
    _model_cls = LinearRegressionModel


class HuberRegressor(_LinearEstimatorBase):
    """Robust linear regression: squared loss near the fit, linear in
    the tails (Huber 1964) — outlier rows contribute a BOUNDED gradient
    (±δ) instead of pulling the fit with their full residual.  Same SGD
    loop / model / serving as LinearRegression; with ``weightRounding``
    the fit replays exactly in SQL (the clamp is a continuous
    greatest/least, no subgradient convention needed)."""

    delta = FloatParam("delta", "Transition point δ between squared "
                       "and linear loss (label units).", 1.0,
                       ParamValidators.gt(0))
    _model_cls = LinearRegressionModel

    def fit(self, *inputs):
        self._loss = HuberLoss(float(self.get_("delta")))
        return super().fit(*inputs)


class QuantileRegressor(_LinearEstimatorBase):
    """Linear quantile regression: minimizes the pinball loss, so the
    fitted line predicts the τ-th CONDITIONAL QUANTILE of the label —
    the robust complement of LinearRegression's conditional mean
    (p99-latency models, demand upper bounds, heavy-tailed labels).
    Same SGD driver loop, model, and serving path as the other linear
    learners; with ``weightRounding`` the fit replays exactly in SQL."""

    tau = FloatParam("tau", "Quantile level τ in (0, 1).", 0.5,
                     ParamValidators.in_range(0, 1, lower_inclusive=False,
                                              upper_inclusive=False))
    _model_cls = LinearRegressionModel

    def fit(self, *inputs):
        self._loss = PinballLoss(float(self.get_("tau")))
        return super().fit(*inputs)
