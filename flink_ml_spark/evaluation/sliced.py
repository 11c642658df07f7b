"""Sliced (per-group) binary-classification evaluation.

A single global AUC hides per-slice regressions — the standard fairness
/ data-quality practice is to evaluate per language, source, domain or
demographic slice.  Running BinaryClassificationEvaluator once per group
costs one job per slice; this operator computes EVERY slice's tie-aware
AUC in one pass from the Mann–Whitney midrank identity:

    AUC_g = (Σ_{pos∈g} midrank(score) − P_g(P_g+1)/2) / (P_g·N_g)

Plan: ``groupBy(group, score)`` collapses ties (map-side combine), then
per-group midranks over the distinct scores come from
``dataflow.ordered_prefix_sums`` keyed ``by=[group]``: one composite
``(group, score)`` range partitioning whose cumulative counts restart at
group boundaries.  A single dominant slice therefore spreads across ALL
partitions instead of degrading to one distinct-score-sized task (the
r05 per-group ``Window.partitionBy`` did exactly that).  Doubled
midranks are integers, so the rank sums are exact (the Spearman
determinism discipline).

``transform(df)`` → one row per group:
``(group, n, n_pos, auc)``; groups with no positives or no negatives
yield NaN auc (undefined), not an error.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..api import AlgoOperator
from ..common.dataflow import ordered_prefix_sums
from ..param import HasLabelCol, HasRawPredictionCol, StringParam


class SlicedBinaryClassificationEvaluator(AlgoOperator, HasLabelCol,
                                          HasRawPredictionCol):
    groupCol = StringParam("groupCol", "Slice column.", "group")

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        (df,) = inputs
        gcol = self.get_("groupCol")
        score = F.col(self.get_("rawPredictionCol")).cast("double")
        y = F.col(self.get_("labelCol")).cast("double")
        g = (df.select(F.col(gcol).alias("g"), score.alias("s"),
                       F.when(y == 1.0, 1).otherwise(0).alias("p"))
             .groupBy("g", "s")
             .agg(F.sum("p").alias("pos"), F.count("*").alias("tot"))
             .persist())
        try:
            with ordered_prefix_sums(g, [F.col("s").asc()], ["tot"],
                                     g.count(), by=["g"]) as cum:
                # doubled midrank stays integral: 2·(cnt_less + (ties+1)/2)
                ranked = cum.withColumn(
                    "m2", 2 * (F.col("cum_tot") - F.col("tot"))
                    + F.col("tot") + 1)
                dx = F.col("pos").cast("decimal(19,0)")
                agg = (ranked.groupBy("g")
                       .agg(F.sum("pos").alias("P"),
                            F.sum(F.col("tot") - F.col("pos")).alias("N"),
                            F.sum((dx * F.col("m2").cast("decimal(19,0)"))
                                  .cast("decimal(38,0)")).alias("r2sum")))
                P = F.col("P").cast("double")
                N = F.col("N").cast("double")
                auc = ((F.col("r2sum").cast("double") / 2.0
                        - P * (P + 1) / 2.0) / (P * N))
                out = agg.select(
                    F.col("g").alias(gcol),
                    (F.col("P") + F.col("N")).alias("n"),
                    F.col("P").alias("n_pos"),
                    F.when((F.col("P") > 0) & (F.col("N") > 0), auc)
                     .otherwise(F.lit(float("nan"))).alias("auc"))
                # group-count-sized result; materialize before unpersisting
                return [out.localCheckpoint(eager=True)]
        finally:
            g.unpersist()
