"""Swing — item-similarity recall for recommendation.

Reference: recommendation/swing/Swing.java:81 —
  sim(i,j) = Σ_{u<v : i,j ∈ I_u ∩ I_v} w_u · w_v / (α2 + |I_u ∩ I_v|),
  w_u = (α1 + |I_u|)^(-β)      (Swing.java:368, :328-331)
over long-typed (user, item) pairs; users outside
[minUserBehavior, maxUserBehavior] are dropped; per-item user lists capped
at maxUserNumPerItem (reference: seeded random sample, Swing.java:294-300
— here: deterministic top-N by user id hash, declared per SURVEY §7's
seeded-sampling-parity note).

Spark-first plan (replaces the reference's keyed-state pipeline):
  1. distinct (user,item), user activity counts + weights  (1 shuffle)
  2. co-interaction pairs: self-join on item, u < v        (shuffle on item)
  3. per user-pair common count → pair weight              (shuffle on u,v)
  4. item-pair scores: self-join of (u,v,item) on (u,v)    (shuffle on u,v)
  5. groupBy(i,j).sum + per-item top-k window
All shuffles are on content keys; the hot-item blowup is bounded by
``maxUserNumPerItem`` exactly as in the reference.

Output: (item, similar_item, score, rank) relational form (the reference
emits a packed string column; relational output is declared equivalent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType

from ..api import AlgoOperator
from ..param import FloatParam, IntParam, ParamValidators, StringParam


class Swing(AlgoOperator):
    userCol = StringParam("userCol", "User column (long).", "user")
    itemCol = StringParam("itemCol", "Item column (long).", "item")
    k = IntParam("k", "Max similar items per item.", 100, ParamValidators.gt(0))
    maxUserNumPerItem = IntParam("maxUserNumPerItem",
                                 "Cap on users considered per item.", 1000,
                                 ParamValidators.gt(0))
    minUserBehavior = IntParam("minUserBehavior", "Min items per user.", 10,
                               ParamValidators.gt(0))
    maxUserBehavior = IntParam("maxUserBehavior", "Max items per user.", 1000,
                               ParamValidators.gt(0))
    alpha1 = IntParam("alpha1", "User-weight smoothing.", 15)
    alpha2 = IntParam("alpha2", "Pair-weight smoothing.", 0)
    beta = FloatParam("beta", "User-weight exponent.", 0.3)

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        (df,) = inputs
        ucol, icol = self.get_("userCol"), self.get_("itemCol")
        schema = {f.name: f.dataType for f in df.schema.fields}
        for c in (ucol, icol):
            if not isinstance(schema[c], LongType):
                raise ValueError(f"Swing requires LONG {c} (Swing.java:95-98)")
        a1, a2, beta = self.get_("alpha1"), self.get_("alpha2"), self.get_("beta")

        ui = df.select(F.col(ucol).alias("u"), F.col(icol).alias("i")).distinct()
        activity = ui.groupBy("u").agg(F.count("*").alias("n"))
        activity = activity.filter(
            (F.col("n") >= self.get_("minUserBehavior"))
            & (F.col("n") <= self.get_("maxUserBehavior")))
        weights = activity.select(
            "u", F.pow(F.lit(a1) + F.col("n"), F.lit(-beta)).alias("w"))
        # user cardinality is unbounded → NO broadcast of per-user state;
        # carry w on the (u, i) rows from the first aggregation (plain
        # shuffle join on u, AQE free to pick the strategy)
        ui = ui.join(weights, "u")
        # cap users per item (deterministic: lowest hash first; the
        # reference bounds the same blowup by sampling, Swing.java:294-300).
        # A cap above 1000 gets no partial window-group limit: each item's
        # users sort in one task
        from ..common.dataflow import top_k_per_key
        ui = top_k_per_key(ui, ["i"], [F.hash("u"), F.col("u")],
                           self.get_("maxUserNumPerItem"))
        # user pairs co-interacting per item (w rides along: 1 double/row)
        a = ui.select(F.col("u").alias("ua"), F.col("i"), F.col("w").alias("wa"))
        b = ui.select(F.col("u").alias("ub"), F.col("i"), F.col("w").alias("wb"))
        co = a.join(b, "i").filter(F.col("ua") < F.col("ub"))
        # common-count and pair weight per (ua, ub); wa/wb are functionally
        # dependent on ua/ub so min() just picks the constant
        pair_cnt = co.groupBy("ua", "ub").agg(F.count("*").alias("c"),
                                              F.min("wa").alias("wa"),
                                              F.min("wb").alias("wb"))
        pair_w = pair_cnt.select(
            "ua", "ub",
            (F.col("wa") * F.col("wb") / (F.lit(a2) + F.col("c"))).alias("pw"))
        # item pairs within each user pair's common set
        ci = co.select("ua", "ub", F.col("i"))
        cj = co.select("ua", "ub", F.col("i").alias("j"))
        item_pairs = (ci.join(cj, ["ua", "ub"]).filter(F.col("i") != F.col("j"))
                      .join(pair_w, ["ua", "ub"])
                      .groupBy("i", "j").agg(F.sum("pw").alias("score")))
        # per-item top-k (partial window-group limit for k ≤ 1000)
        out = (top_k_per_key(item_pairs, ["i"], [F.desc("score"), F.asc("j")],
                             self.get_("k"), rank_col="rank")
               .select(F.col("i").alias("item"), F.col("j").alias("similar_item"),
                       "score", "rank"))
        return [out]
