"""BinaryClassificationEvaluator — exact AUC / AUPRC / KS / Lorenz.

Reference: evaluation/binaryclassification/BinaryClassificationEvaluator.java:76
(metrics list in BinaryClassificationEvaluatorParams.java:35-57).  The
reference samples score boundaries, range-partitions, sorts partitions and
merges partial (TP/FP) summaries (:376-450) to get an exact tie-aware AUC.

Spark-first exact plan with the same geometry:

1. ``groupBy(score)`` → one row per distinct score with (pos, neg) weight
   sums (map-side combine; ties collapse here).
2. ``dataflow.ordered_prefix_sums`` over ``desc(score)`` turns them into
   global descending cumulatives: Spark samples range boundaries exactly
   like the reference's ``getBoundaryRangeOfPartitions``, each partition
   runs a linear Arrow cumsum (no global single-task sort), and the
   per-partition totals return as broadcast prefix offsets — the
   reference's partial-summary merge (:430-450).

Closed-form tie-aware metrics over the global cumulative columns
(cpd/cnd = positives/negatives at-or-above the score):

  AUC    = Σ_ties [ pos·(neg_below + neg/2) ] / (P·N),  neg_below = N - cnd
  KS     = max |cpd/P - cnd/N|
  AUPRC  = trapezoid over (recall, precision) descending; the first
           (highest-score) trapezoid uses previous-precision = 1.0 exactly
           like the reference's initial recordValues[2]
           (BinaryClassificationEvaluator.java:289-295).
  Lorenz = trapezoid over the descending (positiveRate, tpr) gain curve
           (BinaryClassificationEvaluator.java:316-317).

Weighted variants via ``weightCol``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..api import AlgoOperator
from ..common.dataflow import ordered_prefix_sums
from ..param import HasLabelCol, HasRawPredictionCol, HasWeightCol


class BinaryClassificationEvaluator(AlgoOperator, HasLabelCol,
                                    HasRawPredictionCol, HasWeightCol):
    """transform(df) -> one-row DataFrame with columns
    areaUnderROC, areaUnderPR, ks, areaUnderLorenz."""

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        (df,) = inputs
        spark = df.sparkSession
        lcol = self.get_("labelCol")
        rcol = self.get_("rawPredictionCol")
        wcol = self.get_("weightCol")
        w = F.col(wcol).cast("double") if wcol else F.lit(1.0)
        # rawPrediction may be a 2-array (prob per class) or a scalar score
        rtype = dict((f.name, f.dataType.simpleString()) for f in df.schema.fields)[rcol]
        score = (F.element_at(F.col(rcol), 2) if rtype.startswith("array")
                 else F.col(rcol).cast("double"))
        base = df.select(score.alias("score"),
                         F.col(lcol).cast("double").alias("y"), w.alias("w"))
        grouped = (base.groupBy("score")
                   .agg(F.sum(F.when(F.col("y") == 1.0, F.col("w")).otherwise(0.0)).alias("pos"),
                        F.sum(F.when(F.col("y") != 1.0, F.col("w")).otherwise(0.0)).alias("neg"))
                   .persist())
        try:
            # ONE pass materializes the (distinct-score-sized) cache and
            # yields the global totals + row count; every later job reads
            # the cache instead of re-executing the input aggregation (the
            # range-partition boundary sampling alone used to re-run it).
            tot = grouped.agg(F.count("*").alias("m"),
                              F.sum("pos").alias("p"),
                              F.sum("neg").alias("n")).collect()[0]
            P = float(tot["p"] or 0.0)
            N = float(tot["n"] or 0.0)
            if P == 0 or N == 0:
                out = spark.createDataFrame(
                    [(float("nan"),) * 4],
                    "areaUnderROC double, areaUnderPR double, ks double, areaUnderLorenz double")
                return [out]
            with ordered_prefix_sums(grouped, [F.col("score").desc()],
                                     ["pos", "neg"], int(tot["m"])) as ranked:
                cum = ranked.withColumnsRenamed({"cum_pos": "cpd",
                                                 "cum_neg": "cnd"})
                # kept for tests/debugging: the cumulative stage's physical
                # plan must show a range-partitioned exchange, never a
                # global Window
                self.last_plan_ = cum._jdf.queryExecution().toString()
                prev_pos = F.col("cpd") - F.col("pos")
                prev_tot = prev_pos + F.col("cnd") - F.col("neg")
                agg = cum.agg(
                    # tie-aware Mann-Whitney: each positive-group counts negatives
                    # strictly below (= N - cnd) + half of same-score negatives
                    F.sum(F.col("pos") * ((N - F.col("cnd")) + F.col("neg") / 2)).alias("u"),
                    F.max(F.abs(F.col("cpd") / P - F.col("cnd") / N)).alias("ks"),
                    # AUPRC: trapezoid between consecutive distinct-score points of
                    # (recall = cpd/P, precision = cpd/(cpd+cnd)); previous
                    # precision for the first point is 1.0 (reference :289-295)
                    F.sum(
                        (F.col("pos") / P) *
                        ((F.col("cpd") / (F.col("cpd") + F.col("cnd"))) +
                         F.when(prev_tot == 0.0, F.lit(1.0))
                         .otherwise(prev_pos / prev_tot)) / 2
                    ).alias("auprc"),
                    # Lorenz gain curve, descending: x = cum fraction of samples
                    # (positiveRate), y = cum fraction of positives (tpr)
                    F.sum(
                        ((F.col("pos") + F.col("neg")) / (P + N)) *
                        ((F.col("cpd") - F.col("pos")) + F.col("cpd")) / P / 2
                    ).alias("lorenz"),
                ).collect()[0]
        finally:
            grouped.unpersist()
        auc = float(agg["u"]) / (P * N)
        out = spark.createDataFrame(
            [(auc, float(agg["auprc"]), float(agg["ks"]), float(agg["lorenz"]))],
            "areaUnderROC double, areaUnderPR double, ks double, areaUnderLorenz double")
        return [out]
