"""StringIndexer / StringIndexerModel / IndexToStringModel.

Reference: feature/stringindexer/StringIndexer.java:74 (orders arbitrary /
freqAsc / freqDesc / alphabetAsc / alphabetDesc; maxIndexNum for freqDesc;
handleInvalid keep → index N) and IndexToStringModel.java:52.

Spark-first fit: one ``value_counts`` over all input columns (map-side
combine → at most |distinct| rows shuffled), collected once; each driver-held
vocabulary is sorted in Python (code-point order = Spark's UTF-8 byte order).
Transform is a broadcast map lookup via a literal map expression
(O(|vocab|) plan constant) — no join, no shuffle.  ``arbitrary`` order is
mapped to a deterministic (freq-desc, value-asc) order, declared per SURVEY
§7 watch list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..api import Estimator, Model
from ..common import sqltext as S
from ..common.aggregates import value_counts
from ..common.dataflow import top_k_per_key
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
        "message instead.  A failing fit brings at most "
        "maxDriverVocabSize + 1 vocabulary rows to the driver.",
        10_000_000, ParamValidators.gt(0))

    def fit(self, *inputs: DataFrame) -> "StringIndexerModel":
        (df,) = inputs
        cols = self.get_("inputCols")
        order = self.get_("stringOrderType")
        guard = self.get_("maxDriverVocabSize")
        cap = self.get_("maxIndexNum")
        counts = value_counts(df, cols)
        if order == "freqDesc" and cap <= guard:
            # only each column's top maxIndexNum reach the driver; with
            # cap > guard a column longer than cap fails the guard below
            counts = top_k_per_key(counts, ["c"], [F.desc("count"), F.asc("v")], cap)
        limit = min(guard + 1, 2**31 - 1)  # a limit is an int in Spark
        rows = counts.limit(limit).collect()
        if len(rows) == limit:
            # past the guard together: size each column before collecting all
            sizes = dict(counts.groupBy("c").count().collect())
            for i, c in enumerate(cols):
                if sizes.get(i, 0) > guard:
                    raise ValueError(
                        f"StringIndexer: column '{c}' has {sizes[i]} distinct values; "
                        f"collecting its vocabulary to the driver exceeds "
                        f"maxDriverVocabSize={guard}.  Use stringOrderType='freqDesc' with "
                        f"maxIndexNum<={guard} to keep only the most frequent values, hash "
                        f"the column (FeatureHasher) instead of indexing it, or raise "
                        f"maxDriverVocabSize if the driver really has the memory.")
            rows = counts.collect()
        per_col: list[list[tuple[str, int]]] = [[] for _ in cols]
        for r in rows:
            per_col[r["c"]].append((r["v"], r["count"]))
        for vc in per_col:
            if order.startswith("alphabet"):  # distinct values: by value alone
                vc.sort(reverse=order == "alphabetDesc")
            else:  # arbitrary = freqDesc; ties by value
                sign = 1 if order == "freqAsc" else -1
                vc.sort(key=lambda t: (sign * t[1], t[0]))
        model = StringIndexerModel()
        model.set_(inputCols=self.get_("inputCols"), outputCols=self.get_("outputCols"),
                   handleInvalid=self.get_("handleInvalid"))
        model.model_data = {"stringArrays": [[v for v, _ in vc] for vc in per_col]}
        return model


class StringIndexerModel(Model, HasInputCols, HasOutputCols, HasHandleInvalid):
    def _transform(self, df: DataFrame) -> DataFrame:
        mode = self.get_("handleInvalid")
        outs, found = {}, []
        for c, oc, vocab in zip(self.get_("inputCols"), self.get_("outputCols"),
                                self.model_data["stringArrays"]):
            pairs = ", ".join(f"{S.string(v)}, {S.double(i)}"
                              for i, v in enumerate(vocab))
            raw = f"map({pairs})[CAST({S.name(c)} AS STRING)]"
            if mode == "keep":
                expr = f"coalesce({raw}, {S.double(len(vocab))})"
            elif mode == "skip":
                found.append(f"({raw} IS NOT NULL)")
                expr = raw
            else:
                msg = S.string(f"StringIndexer: unseen value in {c}")
                expr = (f"CASE WHEN {raw} IS NULL THEN CAST(raise_error({msg}) "
                        f"AS DOUBLE) ELSE {raw} END")
            outs[oc] = F.expr(expr)
        if found:
            df = df.filter(" AND ".join(found))
        return df.withColumns(outs)

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
