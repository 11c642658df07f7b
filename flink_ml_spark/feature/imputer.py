"""Imputer / ImputerModel — fill missing values with mean/median/most_frequent.

Reference: feature/imputer/Imputer.java:55 — null and NaN (and an optional
``missingValue``) count as missing; median via Greenwald-Khanna
(Imputer.java:183-240) → Spark's mergeable percentile_approx; most_frequent
ties broken by smallest value (reference convention).

Fit = one multi-column ``agg`` (mean, median) or one value count per column
(most_frequent); transform = coalesce/when expressions, fully JVM-side.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from ..api import Estimator, Model
from ..common import sqltext as S
from ..param import (FloatParam, HasInputCols, HasOutputCols, HasRelativeError,
                     ParamValidators, StringParam)

STRATEGIES = ["mean", "median", "most_frequent"]


def _placeholder(mv):
    """The ``missingValue`` that counts as missing besides null and NaN,
    or None when it is unset (NaN)."""
    return None if mv is None or math.isnan(mv) else mv


def _is_missing(x: str, mv) -> str:
    """SQL predicate: ``x`` (SQL text) is null, NaN or the set
    ``missingValue``."""
    miss = f"{x} IS NULL OR isnan({x})"
    if _placeholder(mv) is not None:
        miss = f"{miss} OR {x} = {S.double(mv)}"
    return f"({miss})"


def _as_double(c: str) -> str:
    return f"CAST({S.name(c)} AS DOUBLE)"


class Imputer(Estimator, HasInputCols, HasOutputCols, HasRelativeError):
    strategy = StringParam("strategy", "Imputation strategy.", "mean",
                           ParamValidators.in_array(STRATEGIES))
    missingValue = FloatParam("missingValue", "Placeholder for missing values.",
                              float("nan"))

    def fit(self, *inputs: DataFrame) -> "ImputerModel":
        (df,) = inputs
        in_cols = self.get_("inputCols")
        strategy = self.get_("strategy")
        mv = self.get_("missingValue")
        clean = df.selectExpr(*[
            f"CASE WHEN NOT {_is_missing(_as_double(c), mv)} THEN {_as_double(c)} "
            f"END AS {S.name(c)}" for c in in_cols])
        if strategy == "mean":
            row = clean.agg(*[F.avg(c).alias(c) for c in in_cols]).collect()[0]
            values = [row[c] for c in in_cols]
        elif strategy == "median":
            rel = self.get_("relativeError")
            if rel == 0:  # exact interpolating percentile (oracle-matched)
                row = clean.agg(*[F.percentile(c, F.lit(0.5)).alias(c)
                                  for c in in_cols]).collect()[0]
            else:
                acc = max(1, int(1.0 / rel))
                row = clean.agg(*[
                    F.percentile_approx(c, F.lit(0.5), F.lit(acc)).alias(c)
                    for c in in_cols]).collect()[0]
            values = [row[c] for c in in_cols]
        else:  # ties → smallest; per column (one count over all columns ran
               # 2-3x slower on high-cardinality columns)
            values = []
            for c in in_cols:
                r = (clean.select(c).filter(F.col(c).isNotNull())
                     .groupBy(c).count()
                     .orderBy(F.desc("count"), F.asc(c)).limit(1).collect())
                values.append(r[0][c] if r else None)
        for c, v in zip(in_cols, values):
            if v is None:
                raise ValueError(
                    f"Imputer: column {c!r} has no non-missing value to "
                    f"take the {strategy} of")
        surrogates = [float(v) for v in values]
        model = ImputerModel()
        model.set_(inputCols=in_cols, outputCols=self.get_("outputCols"))
        model.set(ImputerModel.missingValue, mv)
        model.model_data = {"surrogates": surrogates}
        return model


class ImputerModel(Model, HasInputCols, HasOutputCols):
    missingValue = FloatParam("missingValue", "Placeholder for missing values.",
                              float("nan"))

    def _transform(self, df: DataFrame) -> DataFrame:
        mv = self.get_("missingValue")
        return df.withColumns({
            oc: F.expr(f"CASE WHEN {_is_missing(_as_double(c), mv)} THEN "
                       f"{S.double(s)} ELSE {_as_double(c)} END")
            for c, oc, s in zip(self.get_("inputCols"), self.get_("outputCols"),
                                self.model_data["surrogates"])})

    def transform_local(self, pdf):
        out = pdf.copy()
        mv = _placeholder(self.get_("missingValue"))
        for c, oc, s in zip(self.get_("inputCols"), self.get_("outputCols"),
                            self.model_data["surrogates"]):
            vals = out[c].astype(float)
            if mv is not None:
                vals = vals.mask(vals == mv)
            out[oc] = vals.fillna(s)
        return out
