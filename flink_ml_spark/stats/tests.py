"""Statistical tests: ChiSqTest / ANOVATest / FValueTest (AlgoOperators).

Reference:
- stats/chisqtest/ChiSqTest.java:101 — per-feature χ² independence vs
  label from contingency counts (keyed count pipeline :124-210); outputs
  pValues/degreesOfFreedom/statistics, flattened per HasFlatten.
- stats/anovatest/ANOVATest.java:79 — per-feature one-way ANOVA F
  (continuous feature, categorical label).
- stats/fvaluetest/FValueTest.java:83 — per-feature regression F-test
  (continuous feature, continuous label): F = r²/(1-r²)·(n-2).

Spark-first: all fits are single groupBy aggregations with map-side
combine (contingency cells / per-label moments / corr components); the
closed-form statistics are evaluated driver-side on the tiny aggregate,
p-values via common/special.py.  ``flatten=False`` (the default, matching
the reference) gives the single row of arrays; ``flatten=True`` gives one
row per feature (HasFlatten semantics).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..api import AlgoOperator
from ..common.special import chi2_sf, f_sf
from ..param import (HasFeaturesCol, HasFlatten, HasLabelCol, Param,
                     StringParam)


def _emit(spark, rows, stat_name: str, flatten: bool):
    """Reference output layouts (HasFlatten): flattened = one row per
    feature; unflattened = ONE row of arrays (pValues/dof/statistics)."""
    if flatten:
        return spark.createDataFrame(
            rows, f"featureIndex int, pValue double, degreeOfFreedom long, {stat_name} double")
    return spark.createDataFrame(
        [([r[1] for r in rows], [r[2] for r in rows], [r[3] for r in rows])],
        f"pValues array<double>, degreesOfFreedom array<bigint>, {stat_name}s array<double>")


class ChiSqTest(AlgoOperator, HasFeaturesCol, HasLabelCol, HasFlatten):
    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        (df,) = inputs
        spark = df.sparkSession
        fcol, lcol = self.get_("featuresCol"), self.get_("labelCol")
        cells = (df.select(F.col(lcol).cast("double").alias("y"),
                           F.posexplode(F.col(fcol)).alias("fi", "v"))
                 .groupBy("fi", "v", "y").agg(F.count("*").alias("c"))
                 .collect())
        by_feat: dict[int, dict] = {}
        for r in cells:
            by_feat.setdefault(r["fi"], {})[(r["v"], r["y"])] = r["c"]
        rows = []
        for fi in sorted(by_feat):
            table = by_feat[fi]
            vals = sorted({k[0] for k in table})
            labels = sorted({k[1] for k in table})
            obs = np.array([[table.get((v, y), 0) for y in labels] for v in vals],
                           dtype=float)
            n = obs.sum()
            exp = obs.sum(axis=1, keepdims=True) * obs.sum(axis=0, keepdims=True) / n
            with np.errstate(divide="ignore", invalid="ignore"):
                stat = float(np.nansum((obs - exp) ** 2 / exp))
            dof = (len(vals) - 1) * (len(labels) - 1)
            p = chi2_sf(stat, dof) if dof > 0 else 1.0
            rows.append((fi, float(p), int(dof), float(stat)))
        return [_emit(spark, rows, "statistic", self.get_("flatten"))]


class ANOVATest(AlgoOperator, HasFeaturesCol, HasLabelCol, HasFlatten):
    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        (df,) = inputs
        spark = df.sparkSession
        fcol, lcol = self.get_("featuresCol"), self.get_("labelCol")
        # per (feature, label-class): count, sum, sum² — one shuffle
        agg = (df.select(F.col(lcol).cast("double").alias("y"),
                         F.posexplode(F.col(fcol)).alias("fi", "x"))
               .groupBy("fi", "y")
               .agg(F.count("*").alias("n"), F.sum("x").alias("s"),
                    F.sum(F.col("x") * F.col("x")).alias("ss"))
               .collect())
        by_feat: dict[int, list] = {}
        for r in agg:
            by_feat.setdefault(r["fi"], []).append((r["n"], r["s"], r["ss"]))
        rows = []
        for fi in sorted(by_feat):
            groups = by_feat[fi]
            n = sum(g[0] for g in groups)
            k = len(groups)
            total_s = sum(g[1] for g in groups)
            total_ss = sum(g[2] for g in groups)
            sst = total_ss - total_s ** 2 / n
            ssb = sum(g[1] ** 2 / g[0] for g in groups) - total_s ** 2 / n
            ssw = sst - ssb
            dfn, dfd = k - 1, n - k
            fstat = (ssb / dfn) / (ssw / dfd) if dfn > 0 and dfd > 0 and ssw > 0 else float("nan")
            p = f_sf(fstat, dfn, dfd) if np.isfinite(fstat) else float("nan")
            # reference reports dfBetween + dfWithin = n - 1
            # (ANOVATest.java:241-243); dfn/dfd above drive F and p
            rows.append((fi, float(p), int(dfn + dfd), float(fstat)))
        return [_emit(spark, rows, "fValue", self.get_("flatten"))]


class FValueTest(AlgoOperator, HasFeaturesCol, HasLabelCol, HasFlatten):
    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        (df,) = inputs
        spark = df.sparkSession
        fcol, lcol = self.get_("featuresCol"), self.get_("labelCol")
        agg = (df.select(F.col(lcol).cast("double").alias("y"),
                         F.posexplode(F.col(fcol)).alias("fi", "x"))
               .groupBy("fi")
               .agg(F.count("*").alias("n"), F.corr("x", "y").alias("r"))
               .collect())
        rows = []
        for r in sorted(agg, key=lambda r: r["fi"]):
            n, corr = r["n"], r["r"] or 0.0
            dfd = n - 2
            denom = 1.0 - corr * corr
            fstat = corr * corr / denom * dfd if denom > 0 and dfd > 0 else float("inf")
            p = f_sf(fstat, 1, dfd) if np.isfinite(fstat) else 0.0
            rows.append((r["fi"], float(p), int(dfd), float(fstat)))
        return [_emit(spark, rows, "fValue", self.get_("flatten"))]


class KolmogorovSmirnovTest(AlgoOperator):
    """Exact two-sample Kolmogorov–Smirnov test: D = sup |F_A − F_B| over
    the empirical CDFs of ``valueCol`` split by ``groupCol``, with the
    asymptotic p-value Q_KS((√n_e + 0.12 + 0.11/√n_e)·D),
    n_e = n_A·n_B/(n_A+n_B) (Numerical Recipes §14.3.3).  The classical
    distribution-drift test completing the drift family (PSI/JS gates in
    ``streaming/drift.py`` are binned heuristics; KS is the exact,
    binning-free statistic).

    Scale design: the sup runs through BinaryClassificationEvaluator's
    exact KS machinery — ``groupBy(value)`` tie collapse, then
    ``dataflow.ordered_prefix_sums`` — so there is NO global single-task
    sort and NO corpus-sized collect; group totals are one extra
    aggregate.  ``transform(df)`` → one row
    ``(n_a, n_b, statistic, p_value)``.
    """

    valueCol = StringParam("valueCol", "Numeric sample column.", "value")
    groupCol = StringParam("groupCol", "Two-group label column.", "group")
    groupA = Param("groupA", "Value of groupCol naming sample A; default = "
                   "smallest observed group key.", None)

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        from ..common.special import kolmogorov_sf
        from ..evaluation import BinaryClassificationEvaluator
        (df,) = inputs
        spark = df.sparkSession
        vcol, gcol = self.get_("valueCol"), self.get_("groupCol")
        counts = {r["g"]: r["c"] for r in
                  df.groupBy(F.col(gcol).alias("g"))
                    .agg(F.count("*").alias("c")).collect()}
        if len(counts) != 2:
            raise ValueError(
                f"KolmogorovSmirnovTest needs exactly 2 groups in "
                f"'{gcol}', saw {sorted(counts)[:5]}"
                f"{'...' if len(counts) > 5 else ''}")
        ga = self.get_("groupA")
        if ga is None:
            ga = sorted(counts)[0]
        elif ga not in counts:
            raise ValueError(f"groupA={ga!r} not present in '{gcol}'")
        na = int(counts[ga])
        nb = int(sum(c for g, c in counts.items() if g != ga))
        ind = df.select(
            F.col(vcol).cast("double").alias("score"),
            (F.col(gcol) == F.lit(ga)).cast("double").alias("label"))
        ev = BinaryClassificationEvaluator(labelCol="label",
                                           rawPredictionCol="score")
        d = float(ev.transform(ind)[0].first()["ks"])
        ne = na * nb / (na + nb)
        lam = (np.sqrt(ne) + 0.12 + 0.11 / np.sqrt(ne)) * d
        p = kolmogorov_sf(float(lam))
        return [spark.createDataFrame(
            [(na, nb, d, p)],
            "n_a long, n_b long, statistic double, p_value double")]


class PairedTTest(AlgoOperator):
    """Paired two-sided t-test between two metric columns measured on the
    same units (queries / documents / days): the standard "did variant B
    beat variant A significantly?" primitive for offline eval comparisons
    (per-query nDCG A vs B, per-slice quality before/after a filter).

    One aggregation carries (n, Σd, Σd²) for d = b − a; t, the mean
    difference and the p-value (t² ~ F(1, n−1)) are driver arithmetic on
    that single row — corpus size never leaves the map-side combine.
    ``transform(df)`` → one row ``(n, mean_diff, t, p_value)``."""

    aCol = StringParam("aCol", "Baseline metric column.", "a")
    bCol = StringParam("bCol", "Variant metric column.", "b")

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        import math
        (df,) = inputs
        spark = df.sparkSession
        d = (F.col(self.get_("bCol")).cast("double")
             - F.col(self.get_("aCol")).cast("double"))
        r = (df.filter(F.col(self.get_("aCol")).isNotNull()
                       & F.col(self.get_("bCol")).isNotNull())
             .agg(F.count("*").alias("n"), F.sum(d).alias("sd"),
                  F.sum(d * d).alias("sdd")).first())
        n = int(r["n"])
        schema = "n long, mean_diff double, t double, p_value double"
        if n < 2:
            return [spark.createDataFrame(
                [(n, float("nan"), float("nan"), float("nan"))], schema)]
        mean = r["sd"] / n
        var = (r["sdd"] - n * mean * mean) / (n - 1)
        if var <= 0:  # all differences identical
            t = float("inf") if mean != 0 else 0.0
            p = 0.0 if mean != 0 else 1.0
        else:
            t = mean / math.sqrt(var / n)
            p = f_sf(t * t, 1, n - 1)
        return [spark.createDataFrame(
            [(n, float(mean), float(t), float(p))], schema)]


class TwoProportionZTest(AlgoOperator):
    """Two-sample proportion z-test — the A/B experiment primitive
    ("did variant B's conversion rate beat A's?"), complementing
    PairedTTest (paired metrics) and ChiSqTest (k×k independence).

    ONE aggregation carries (n, x) per group; the pooled z statistic

        z = (x1/n1 − x2/n2) / sqrt(p̂(1−p̂)(1/n1 + 1/n2)),  p̂ = (x1+x2)/(n1+n2)

    is driver arithmetic on two rows.  Every operation is either exact
    integer or IEEE-correctly-rounded (divisions of integers, one sqrt)
    in a FIXED order, so z is bit-stable cross-engine; the two-sided
    p-value (z² ~ χ²₁) uses common/special.py and is pinned by pytest.
    ``transform(df)`` → one row (group1, group2, n1, x1, n2, x2, z,
    p_value); groups are the two distinct groupCol values, ascending.
    """

    groupCol = StringParam("groupCol", "Two-valued variant column.",
                           "group")
    outcomeCol = StringParam("outcomeCol", "0/1 outcome column.",
                             "outcome")

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        import math
        (df,) = inputs
        spark = df.sparkSession
        g = F.col(self.get_("groupCol")).cast("string")
        y = F.col(self.get_("outcomeCol")).cast("double")
        rows = (df.filter(g.isNotNull() & y.isNotNull())
                .groupBy(g.alias("g"))
                .agg(F.count(F.lit(1)).alias("n"), F.sum(y).alias("x"))
                .collect())
        if len(rows) != 2:
            raise ValueError(
                f"TwoProportionZTest: need exactly 2 groups, saw "
                f"{sorted(r['g'] for r in rows)}")
        rows = sorted(rows, key=lambda r: r["g"])
        (g1, n1, x1), (g2, n2, x2) = [(r["g"], int(r["n"]), float(r["x"]))
                                      for r in rows]
        p1, p2 = x1 / n1, x2 / n2
        pp = (x1 + x2) / (n1 + n2)
        se2 = pp * (1.0 - pp) * (1.0 / n1 + 1.0 / n2)
        if se2 <= 0:  # all outcomes identical
            z, p = 0.0, 1.0
        else:
            z = (p1 - p2) / math.sqrt(se2)
            p = chi2_sf(z * z, 1)
        return [spark.createDataFrame(
            [(g1, g2, n1, int(x1), n2, int(x2), float(z), float(p))],
            "group1 string, group2 string, n1 long, x1 long, n2 long, "
            "x2 long, z double, p_value double")]


class MannWhitneyUTest(AlgoOperator):
    """Mann–Whitney U (Wilcoxon rank-sum) test — the nonparametric
    two-sample location test: does group 1's value distribution
    stochastically dominate group 2's?  The robust complement of the
    t-family for heavy-tailed metrics (latencies, doc lengths, counts),
    completing the stats set next to ChiSqTest/ANOVA/F and the
    TwoProportionZTest.

    Pooled average-tie midranks come from the Spearman machinery
    (``correlation._midranks``: groupBy tie collapse +
    ``dataflow.ordered_prefix_sums`` — no global sort, nothing
    corpus-sized collected); doubled
    midranks are integers, so the per-group rank sums are EXACT decimal
    aggregates and 2·U1 = Σ2r₁ − n1(n1+1) is an exact integer.  The
    tie-corrected normal z and its p-value (z² ~ χ²₁) are driver
    arithmetic; every float step is a fixed-order division/sqrt of
    exact integers, so z replays bit-identically in SQL.

    ``transform(df)`` → one row (group1, group2, n1, n2, u1_x2, z,
    p_value); groups ascending by name, U1 is group1's statistic.
    """

    groupCol = StringParam("groupCol", "Two-valued group column.",
                           "group")
    valueCol = StringParam("valueCol", "Numeric sample column.", "value")

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        import math

        from .correlation import _midranks
        (df,) = inputs
        spark = df.sparkSession
        g = F.col(self.get_("groupCol")).cast("string")
        v = F.col(self.get_("valueCol")).cast("double")
        base = (df.filter(g.isNotNull() & v.isNotNull())
                .select(g.alias("g"), v.alias("val")))
        with _midranks(base, "val") as ranks:
            joined = base.join(ranks, base["val"] == ranks["v"]).drop("v")
            per = (joined.groupBy("g")
                   .agg(F.count(F.lit(1)).alias("n"),
                        F.sum(F.col("r2").cast("decimal(38,0)")).alias("sr"))
                   .collect())
        if len(per) != 2:
            raise ValueError(
                f"MannWhitneyUTest: need exactly 2 groups, saw "
                f"{sorted(r['g'] for r in per)}")
        per = sorted(per, key=lambda r: r["g"])
        (g1, n1, sr1), (g2, n2, _) = [(r["g"], int(r["n"]), int(r["sr"]))
                                      for r in per]
        ties = int(base.groupBy("val").count()
                   .agg(F.sum(F.col("count").cast("decimal(38,0)")
                              * F.col("count") * F.col("count")
                              - F.col("count"))).first()[0] or 0)
        n = n1 + n2
        u1_x2 = sr1 - n1 * (n1 + 1)  # exact integer 2*U1
        schema = ("group1 string, group2 string, n1 long, n2 long, "
                  "u1_x2 long, z double, p_value double")
        tie_adj = (n + 1.0) - ties / (n * (n - 1.0)) if n > 1 else 0.0
        sig2 = n1 * n2 / 12.0 * tie_adj
        if sig2 <= 0:  # all values tied
            z, p = 0.0, 1.0
        else:
            u1 = u1_x2 / 2.0
            mu = n1 * n2 / 2.0
            z = (u1 - mu) / math.sqrt(sig2)
            p = chi2_sf(z * z, 1)
        return [spark.createDataFrame(
            [(g1, g2, n1, n2, int(u1_x2), float(z), float(p))], schema)]


class CohenKappaTest(AlgoOperator):
    """Cohen's κ — chance-corrected agreement between two categorical
    raters (Cohen 1960): the standard scorecard for annotation
    pipelines (human vs model labels, two quality filters, judge vs
    judge) where raw accuracy flatters imbalanced label sets.

    ONE contingency aggregation (map-side combined, k×k output); κ is
    driver arithmetic on the tiny table:

        κ = (p_o − p_e) / (1 − p_e),
        p_o = Σ diag / n,  p_e = Σ_i row_i · col_i / n²

    — integer counts and a fixed division order, so κ is q4-stable
    cross-engine.  ``transform(df)`` → one row (n, agree, kappa);
    perfect chance agreement (p_e = 1, degenerate single-category
    raters) reports κ = 0.0 by convention."""

    aCol = StringParam("aCol", "First rater's label column.", "a")
    bCol = StringParam("bCol", "Second rater's label column.", "b")

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        (df,) = inputs
        spark = df.sparkSession
        a = F.col(self.get_("aCol")).cast("string")
        b = F.col(self.get_("bCol")).cast("string")
        cells = (df.filter(a.isNotNull() & b.isNotNull())
                 .groupBy(a.alias("a"), b.alias("b"))
                 .agg(F.count(F.lit(1)).alias("c")).collect())
        n = sum(int(r["c"]) for r in cells)
        if n == 0:
            raise ValueError("CohenKappaTest: no co-rated rows")
        agree = sum(int(r["c"]) for r in cells if r["a"] == r["b"])
        rows: dict[str, int] = {}
        colc: dict[str, int] = {}
        for r in cells:
            rows[r["a"]] = rows.get(r["a"], 0) + int(r["c"])
            colc[r["b"]] = colc.get(r["b"], 0) + int(r["c"])
        chance = sum(rows[k] * colc.get(k, 0) for k in rows)  # Σ ri·ci
        po = agree / n
        pe = chance / (n * n)
        kappa = 0.0 if pe == 1.0 else (po - pe) / (1.0 - pe)
        return [spark.createDataFrame(
            [(n, agree, float(kappa))], "n long, agree long, kappa double")]
