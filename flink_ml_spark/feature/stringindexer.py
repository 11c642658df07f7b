"""StringIndexer / StringIndexerModel / IndexToStringModel.

Reference: feature/stringindexer/StringIndexer.java:74 (orders arbitrary /
freqAsc / freqDesc / alphabetAsc / alphabetDesc; maxIndexNum for freqDesc;
handleInvalid keep → index N) and IndexToStringModel.java:52.

Spark-first fit: one groupBy(value).count() per input column (map-side
combine → at most |distinct| rows shuffled); the vocabulary is driver-held
model state.  Transform is a broadcast map lookup via a literal
map expression (O(|vocab|) plan constant) — no join, no shuffle.
``arbitrary`` order is mapped to a deterministic (freq-desc, value-asc)
order, declared per SURVEY §7 watch list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..api import Estimator, Model
from ..param import (HasHandleInvalid, HasInputCols, HasOutputCols, IntParam,
                     ParamValidators, StringParam)

ORDERS = ["arbitrary", "freqDesc", "freqAsc", "alphabetAsc", "alphabetDesc"]


class StringIndexer(Estimator, HasInputCols, HasOutputCols, HasHandleInvalid):
    stringOrderType = StringParam("stringOrderType", "Order of indexing.", "arbitrary",
                                  ParamValidators.in_array(ORDERS))
    maxIndexNum = IntParam("maxIndexNum", "Max number of indices (freqDesc only).",
                           2147483647, ParamValidators.gt(1))
    maxDriverVocabSize = IntParam(
        "maxDriverVocabSize",
        "Fail-fast guard (superset of the reference, which only caps "
        "freqDesc — StringIndexer.java:118-140): every order collects the "
        "vocabulary to the driver, so a high-cardinality column (e.g. "
        "10^8 distinct ids mistaken for a category) would OOM it.  Fits "
        "whose vocabulary would exceed this raise with an actionable "
        "message instead.  The check is one count() over the persisted "
        "distinct-counts relation — vocab-sized, not corpus-sized.",
        10_000_000, ParamValidators.gt(0))

    def fit(self, *inputs: DataFrame) -> "StringIndexerModel":
        (df,) = inputs
        order = self.get_("stringOrderType")
        guard = self.get_("maxDriverVocabSize")
        vocabs: list[list[str]] = []
        for c in self.get_("inputCols"):
            counts = (df.select(F.col(c).cast("string").alias("v"))
                      .filter(F.col("v").isNotNull())
                      .groupBy("v").count()).persist()
            n_distinct = counts.count()
            effective = min(n_distinct, self.get_("maxIndexNum")) \
                if order == "freqDesc" else n_distinct
            if effective > guard:
                counts.unpersist()
                raise ValueError(
                    f"StringIndexer: column '{c}' has {n_distinct} distinct "
                    f"values; collecting a vocabulary of {effective} to the "
                    f"driver exceeds maxDriverVocabSize={guard}.  Use "
                    f"stringOrderType='freqDesc' with maxIndexNum<={guard} "
                    f"to keep only the most frequent values, hash the "
                    f"column (FeatureHasher) instead of indexing it, or "
                    f"raise maxDriverVocabSize if the driver really has "
                    f"the memory.")
            if order in ("freqDesc", "arbitrary"):
                q = counts.orderBy(F.desc("count"), F.asc("v"))
                if order == "freqDesc":
                    # push the cap into the plan (TakeOrderedAndProject) —
                    # the driver never receives more than maxIndexNum rows
                    q = q.limit(self.get_("maxIndexNum"))
                rows = q.collect()
            elif order == "freqAsc":
                rows = counts.orderBy(F.asc("count"), F.asc("v")).collect()
            elif order == "alphabetAsc":
                rows = counts.orderBy(F.asc("v")).collect()
            else:
                rows = counts.orderBy(F.desc("v")).collect()
            counts.unpersist()
            vocabs.append([r["v"] for r in rows])
        model = StringIndexerModel()
        model.set_(inputCols=self.get_("inputCols"), outputCols=self.get_("outputCols"),
                   handleInvalid=self.get_("handleInvalid"))
        model.model_data = {"stringArrays": vocabs}
        return model


class StringIndexerModel(Model, HasInputCols, HasOutputCols, HasHandleInvalid):
    def _transform(self, df: DataFrame) -> DataFrame:
        mode = self.get_("handleInvalid")
        for c, oc, vocab in zip(self.get_("inputCols"), self.get_("outputCols"),
                                self.model_data["stringArrays"]):
            pairs = []
            for i, v in enumerate(vocab):
                pairs.extend([F.lit(v), F.lit(float(i))])
            lookup = F.create_map(*pairs) if pairs else F.create_map()
            raw = lookup[F.col(c).cast("string")]
            if mode == "keep":
                expr = F.coalesce(raw, F.lit(float(len(vocab))))
            elif mode == "skip":
                df = df.filter(raw.isNotNull())
                expr = raw
            else:
                expr = F.when(raw.isNull(),
                              F.raise_error(F.lit(f"StringIndexer: unseen value in {c}"))
                              .cast("double")).otherwise(raw)
            df = df.withColumn(oc, expr)
        return df

    def transform_local(self, pdf):
        out = pdf.copy()
        for c, oc, vocab in zip(self.get_("inputCols"), self.get_("outputCols"),
                                self.model_data["stringArrays"]):
            m = {v: float(i) for i, v in enumerate(vocab)}
            out[oc] = out[c].map(lambda x: m.get(str(x), float(len(vocab))))
        return out


class IndexToStringModel(Model, HasInputCols, HasOutputCols):
    """Inverse mapping (IndexToStringModel.java:52)."""

    def set_model_data_arrays(self, string_arrays: list[list[str]]) -> "IndexToStringModel":
        self.model_data = {"stringArrays": string_arrays}
        return self

    def _transform(self, df: DataFrame) -> DataFrame:
        for c, oc, vocab in zip(self.get_("inputCols"), self.get_("outputCols"),
                                self.model_data["stringArrays"]):
            arr = F.array(*[F.lit(v) for v in vocab])
            df = df.withColumn(oc, F.element_at(arr, F.col(c).cast("int") + 1))
        return df

    def transform_local(self, pdf):
        out = pdf.copy()
        for c, oc, vocab in zip(self.get_("inputCols"), self.get_("outputCols"),
                                self.model_data["stringArrays"]):
            out[oc] = [vocab[int(i)] if 0 <= int(i) < len(vocab) else None
                       for i in pdf[c]]
        return out
