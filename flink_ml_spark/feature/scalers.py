"""StandardScaler / MinMaxScaler / MaxAbsScaler / RobustScaler (+Models).

Reference files:
- feature/standardscaler/StandardScaler.java:65 (mean + unbiased std via
  per-partition partials merged at p=1, :75-101)
- feature/minmaxscaler/MinMaxScaler.java:67 (per-dim min/max → [min,max]
  target range; Emax==Emin → 0.5*(max+min))
- feature/maxabsscaler/MaxAbsScaler.java:56
- feature/robustscaler/RobustScaler.java:62 (median + quantile range via
  Greenwald-Khanna)

Spark-first: fit = one posexplode+groupBy(pos) aggregation (map-side
partial combine → dim rows shuffled, SURVEY §4 row 2); transform = lazy
zip_with against the literal model vector (broadcast-by-literal — model is
O(dim), embedded in the plan).  100 TB-safe: no p=1 stage touches raw rows.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..api import Estimator, Model
from ..common import sqltext as S, vector as V
from ..common.aggregates import quantiles_vector_col, summarize_vector_col
from ..param import (BoolParam, FloatParam, HasInputCol, HasOutputCol,
                     HasRelativeError, ParamValidators)


def _zip_lit(x: str, v, op: str) -> str:
    """SQL text of ``zip_with(x, v, (x, y) -> x <op> y)`` for literal ``v``."""
    return f"zip_with({x}, {S.double_array(v)}, (x, y) -> x {op} y)"


class _ScalerModelBase(Model, HasInputCol, HasOutputCol):
    def _affine_transform(self, df: DataFrame, scale: np.ndarray,
                          offset: np.ndarray | None) -> DataFrame:
        """out = (x - offset) * scale  (offset=None → x * scale).  A sparse
        input is densified by a UDF under a temporary column first."""
        c, tmp = self.get_("inputCol"), None
        if V.is_sparse_type(df, c):
            tmp = "__dense__"
            df = df.withColumn(tmp, V.dense_input(df, c))
            x = S.name(tmp)
        else:
            x = f"CAST({S.name(c)} AS ARRAY<DOUBLE>)"
        if offset is not None:
            x = _zip_lit(x, offset, "-")
        out = df.withColumns({self.get_("outputCol"): F.expr(_zip_lit(x, scale, "*"))})
        return out.drop(tmp) if tmp else out

    def _local_affine(self, pdf, scale, offset):
        out = pdf.copy()
        col = pdf[self.get_("inputCol")]
        if not len(col):  # empty serving batch
            out[self.get_("outputCol")] = []
            return out
        x = np.stack([np.asarray(v, dtype=float) for v in col])
        y = (x - offset) * scale if offset is not None else x * scale
        out[self.get_("outputCol")] = list(y)
        return out


class StandardScaler(Estimator, HasInputCol, HasOutputCol):
    withMean = BoolParam("withMean", "Center before scaling.", False)
    withStd = BoolParam("withStd", "Scale to unit std (unbiased).", True)

    def fit(self, *inputs: DataFrame) -> "StandardScalerModel":
        (df,) = inputs
        stats = summarize_vector_col(df, self.get_("inputCol"), ("mean", "std"))
        model = StandardScalerModel()
        model.set_(inputCol=self.get_("inputCol"), outputCol=self.get_("outputCol"),
                   withMean=self.get_("withMean"), withStd=self.get_("withStd"))
        model.model_data = {"mean": stats["mean"].tolist(), "std": stats["std"].tolist()}
        return model


class StandardScalerModel(_ScalerModelBase):
    withMean = BoolParam("withMean", "Center before scaling.", False)
    withStd = BoolParam("withStd", "Scale to unit std (unbiased).", True)

    def _components(self):
        mean = np.array(self.model_data["mean"])
        std = np.array(self.model_data["std"])
        scale = np.where(std != 0, 1.0 / np.where(std == 0, 1.0, std), 1.0) \
            if self.get_("withStd") else np.ones_like(std)
        offset = mean if self.get_("withMean") else None
        return scale, offset

    def _transform(self, df: DataFrame) -> DataFrame:
        return self._affine_transform(df, *self._components())

    def transform_local(self, pdf):
        return self._local_affine(pdf, *self._components())


class MinMaxScaler(Estimator, HasInputCol, HasOutputCol):
    minV = FloatParam("min", "Target range lower bound.", 0.0)
    maxV = FloatParam("max", "Target range upper bound.", 1.0)

    def fit(self, *inputs: DataFrame) -> "MinMaxScalerModel":
        (df,) = inputs
        stats = summarize_vector_col(df, self.get_("inputCol"), ("min", "max"))
        model = MinMaxScalerModel()
        model.set_(inputCol=self.get_("inputCol"), outputCol=self.get_("outputCol"))
        model.set(MinMaxScalerModel.minV, self.get_("min"))
        model.set(MinMaxScalerModel.maxV, self.get_("max"))
        model.model_data = {"eMin": stats["min"].tolist(), "eMax": stats["max"].tolist()}
        return model


class MinMaxScalerModel(_ScalerModelBase):
    minV = FloatParam("min", "Target range lower bound.", 0.0)
    maxV = FloatParam("max", "Target range upper bound.", 1.0)

    def _minmax_components(self):
        """(e_min, scale, shift): out = (x - e_min)*scale + shift.
        Emax==Emin → constant 0.5*(tmax+tmin) (MinMaxScaler.java:67)."""
        e_min = np.array(self.model_data["eMin"])
        e_max = np.array(self.model_data["eMax"])
        t_min, t_max = self.get_("min"), self.get_("max")
        span = e_max - e_min
        scale = np.where(span != 0, (t_max - t_min) / np.where(span == 0, 1.0, span), 0.0)
        const = np.where(span != 0, 0.0, 0.5 * (t_max + t_min))
        base = np.where(span != 0, t_min, 0.0)
        return e_min, scale, base + const

    def _transform(self, df: DataFrame) -> DataFrame:
        e_min, scale, shift = self._minmax_components()
        x = _zip_lit(_zip_lit(S.name(self.get_("inputCol")), e_min, "-"), scale, "*")
        return df.withColumns({self.get_("outputCol"): F.expr(_zip_lit(x, shift, "+"))})

    def transform_local(self, pdf):
        e_min, scale, shift = self._minmax_components()
        out = pdf.copy()
        col = pdf[self.get_("inputCol")]
        if not len(col):
            out[self.get_("outputCol")] = []
            return out
        x = np.stack([np.asarray(v, dtype=float) for v in col])
        out[self.get_("outputCol")] = list((x - e_min) * scale + shift)
        return out


class MaxAbsScaler(Estimator, HasInputCol, HasOutputCol):
    def fit(self, *inputs: DataFrame) -> "MaxAbsScalerModel":
        (df,) = inputs
        stats = summarize_vector_col(df, self.get_("inputCol"), ("max_abs",))
        model = MaxAbsScalerModel()
        model.set_(inputCol=self.get_("inputCol"), outputCol=self.get_("outputCol"))
        model.model_data = {"maxAbs": stats["max_abs"].tolist()}
        return model


class MaxAbsScalerModel(_ScalerModelBase):
    def _transform(self, df: DataFrame) -> DataFrame:
        max_abs = np.array(self.model_data["maxAbs"])
        scale = np.where(max_abs != 0, 1.0 / np.where(max_abs == 0, 1.0, max_abs), 1.0)
        return self._affine_transform(df, scale, None)

    def transform_local(self, pdf):
        max_abs = np.array(self.model_data["maxAbs"])
        scale = np.where(max_abs != 0, 1.0 / np.where(max_abs == 0, 1.0, max_abs), 1.0)
        return self._local_affine(pdf, scale, None)


class RobustScaler(Estimator, HasInputCol, HasOutputCol, HasRelativeError):
    lower = FloatParam("lower", "Lower quantile.", 0.25, ParamValidators.in_range(0, 1, False, False))
    upper = FloatParam("upper", "Upper quantile.", 0.75, ParamValidators.in_range(0, 1, False, False))
    withCentering = BoolParam("withCentering", "Center with median.", False)
    withScaling = BoolParam("withScaling", "Scale by quantile range.", True)

    def fit(self, *inputs: DataFrame) -> "RobustScalerModel":
        (df,) = inputs
        q = quantiles_vector_col(df, self.get_("inputCol"),
                                 [self.get_("lower"), 0.5, self.get_("upper")],
                                 self.get_("relativeError"))
        model = RobustScalerModel()
        model.set_(inputCol=self.get_("inputCol"), outputCol=self.get_("outputCol"),
                   withCentering=self.get_("withCentering"),
                   withScaling=self.get_("withScaling"))
        model.model_data = {"median": q[:, 1].tolist(),
                            "range": (q[:, 2] - q[:, 0]).tolist()}
        return model


class RobustScalerModel(_ScalerModelBase):
    withCentering = BoolParam("withCentering", "Center with median.", False)
    withScaling = BoolParam("withScaling", "Scale by quantile range.", True)

    def _components(self):
        med = np.array(self.model_data["median"])
        rng = np.array(self.model_data["range"])
        scale = (np.where(rng != 0, 1.0 / np.where(rng == 0, 1.0, rng), 1.0)
                 if self.get_("withScaling") else np.ones_like(rng))
        offset = med if self.get_("withCentering") else None
        return scale, offset

    def _transform(self, df: DataFrame) -> DataFrame:
        return self._affine_transform(df, *self._components())

    def transform_local(self, pdf):
        return self._local_affine(pdf, *self._components())
