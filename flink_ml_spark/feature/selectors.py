"""VarianceThresholdSelector and VectorIndexer (+Models).

Reference:
- feature/variancethresholdselector/VarianceThresholdSelector.java:54 —
  drop dims with sample variance <= threshold (keep dims with var > thr).
- feature/vectorindexer/VectorIndexer.java:81 — per-dim distinct values;
  dims with <= maxCategories distincts become categorical and are
  re-indexed (values sorted ascending, index = rank; 0.0 maps to 0 when
  present); other dims pass through.  handleInvalid error/skip/keep
  (keep → index = #categories).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..api import Estimator, Model
from ..common.aggregates import summarize_vector_col
from ..param import (FloatParam, HasHandleInvalid, HasInputCol, HasOutputCol,
                     IntParam, ParamValidators)


class VarianceThresholdSelector(Estimator, HasInputCol, HasOutputCol):
    varianceThreshold = FloatParam("varianceThreshold", "Dims with variance <= threshold are removed.", 0.0)

    def fit(self, *inputs: DataFrame) -> "VarianceThresholdSelectorModel":
        (df,) = inputs
        stats = summarize_vector_col(df, self.get_("inputCol"), ("var",))
        keep = [i for i, v in enumerate(stats["var"])
                if v > self.get_("varianceThreshold")]
        model = VarianceThresholdSelectorModel()
        model.set_(inputCol=self.get_("inputCol"), outputCol=self.get_("outputCol"))
        model.model_data = {"indices": keep}
        return model


class VarianceThresholdSelectorModel(Model, HasInputCol, HasOutputCol):
    def _transform(self, df: DataFrame) -> DataFrame:
        col = F.col(self.get_("inputCol"))
        out = F.array(*[F.element_at(col, int(i) + 1)
                        for i in self.model_data["indices"]])
        return df.withColumn(self.get_("outputCol"), out)

    def transform_local(self, pdf):
        idx = [int(i) for i in self.model_data["indices"]]
        out = pdf.copy()
        out[self.get_("outputCol")] = [
            [x[i] for i in idx] for x in pdf[self.get_("inputCol")]]
        return out


class VectorIndexer(Estimator, HasInputCol, HasOutputCol, HasHandleInvalid):
    maxCategories = IntParam("maxCategories", "Max distincts for a dim to be categorical.", 20,
                             ParamValidators.gt(1))

    def fit(self, *inputs: DataFrame) -> "VectorIndexerModel":
        (df,) = inputs
        max_cat = self.get_("maxCategories")
        ex = df.select(F.posexplode(F.col(self.get_("inputCol"))).alias("pos", "x"))
        # distinct values per dim, keep only dims under the category cap.
        # count distinct first (cheap agg), then collect values only for
        # categorical dims — avoids collecting unbounded value sets.
        per_dim = ex.groupBy("pos").agg(F.countDistinct("x").alias("n")).collect()
        dim = max((r["pos"] for r in per_dim), default=-1) + 1
        cat_dims = [r["pos"] for r in per_dim if r["n"] <= max_cat]
        category_maps: dict[int, list[float]] = {}
        if cat_dims:
            vals = (ex.filter(F.col("pos").isin(cat_dims))
                    .groupBy("pos").agg(F.sort_array(F.collect_set("x")).alias("vals"))
                    .collect())
            category_maps = {int(r["pos"]): [float(v) for v in r["vals"]] for r in vals}
        model = VectorIndexerModel()
        model.set_(inputCol=self.get_("inputCol"), outputCol=self.get_("outputCol"),
                   handleInvalid=self.get_("handleInvalid"))
        model.model_data = {"categoryMaps": {str(k): v for k, v in category_maps.items()},
                            "dim": dim}
        return model


class VectorIndexerModel(Model, HasInputCol, HasOutputCol, HasHandleInvalid):
    def _transform(self, df: DataFrame) -> DataFrame:
        col = F.col(self.get_("inputCol"))
        maps = {int(k): v for k, v in self.model_data["categoryMaps"].items()}
        mode = self.get_("handleInvalid")
        if not maps:
            return df.withColumn(self.get_("outputCol"), col)
        dim_exprs = {}
        invalid = F.lit(False)
        for d, vals in maps.items():
            x = F.element_at(col, d + 1)
            pairs = []
            for i, v in enumerate(vals):
                pairs.extend([F.lit(v), F.lit(float(i))])
            raw = F.create_map(*pairs)[x]
            if mode == "keep":
                expr = F.coalesce(raw, F.lit(float(len(vals))))
            elif mode == "skip":
                invalid = invalid | raw.isNull()
                expr = raw
            else:
                expr = F.when(raw.isNull(),
                              F.raise_error(F.lit(f"VectorIndexer: unseen value in dim {d}"))
                              .cast("double")).otherwise(raw)
            dim_exprs[d] = expr
        if mode == "skip":
            df = df.filter(~invalid)
        # rebuild the (fixed-width, width recorded at fit) array with the
        # categorical dims substituted by their index expressions
        arr = [dim_exprs.get(i, F.element_at(col, i + 1))
               for i in range(int(self.model_data["dim"]))]
        return df.withColumn(self.get_("outputCol"), F.array(*arr))
