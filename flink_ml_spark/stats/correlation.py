"""Pearson correlation matrix over an array column — one pass.

The reference's stats family (ChiSqTest/ANOVATest/FValueTest, SURVEY
§2.7) covers feature-vs-label association; a feature-vs-feature
correlation matrix is the natural completion (Spark MLlib ships it as
``ml.stat.Correlation``) and a standard pre-training diagnostic for
embedding / numeric-feature tables.

Scale design: the sufficient statistic is exactly the covariance
partial (n, Σx, ΣxxT) already used by PCAWhitener — ONE zero-shuffle
``mapInPandas`` pass emitting dim + dim² doubles per partition, combined
driver-side; corr(i,j) = cov(i,j) / (σi·σj) is then dim×dim driver
arithmetic.  Rows leaving the cluster = number of partitions, output
rows = dim·(dim+1)/2 — both independent of corpus size.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..api import AlgoOperator
from ..common.dataflow import ordered_prefix_sums
from ..param import HasFeaturesCol, StringParam

_SCHEMA = T.StructType([
    T.StructField("i", T.IntegerType()),
    T.StructField("j", T.IntegerType()),
    T.StructField("corr", T.DoubleType()),
])


class CorrelationMatrix(AlgoOperator, HasFeaturesCol):
    """``transform(df)`` → one DataFrame of flattened upper-triangle
    Pearson correlations ``(i, j, corr)`` with ``i ≤ j`` over the
    ``featuresCol`` array column.  Sample covariance (n−1 denominator,
    matching ANSI ``CORR`` — the denominator cancels in the ratio, so
    sample vs population gives identical correlations).  Zero-variance
    dimensions yield null (undefined), not ±inf."""

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        (df,) = inputs
        from ..llmdata.simsearch import covariance_partials
        n, _, cov = covariance_partials(df, self.get_("featuresCol"))
        sd = np.sqrt(np.diag(cov))
        rows = []
        for i in range(cov.shape[0]):
            for j in range(i, cov.shape[0]):
                if sd[i] > 0 and sd[j] > 0:
                    c = float(cov[i, j] / (sd[i] * sd[j]))
                    # clamp the last-ulp excursions the two-step
                    # (ΣxxT − n·x̄x̄ᵀ) form can produce
                    c = max(-1.0, min(1.0, c))
                else:
                    c = None
                rows.append((i, j, c))
        return [df.sparkSession.createDataFrame(rows, _SCHEMA)]


class MutualInformation(AlgoOperator):
    """Mutual information (nats) + normalized MI between two categorical
    columns — the Deequ ``MutualInformation`` analyzer: the dependence
    diagnostic ChiSq tests for but doesn't quantify (how much does
    ``source`` determine ``lang``?), and a standard redundant-feature /
    leakage check before training.

    ``transform(df)`` → TWO outputs: ``[0]`` one row ``(n, mi, nmi)``;
    ``nmi = MI / sqrt(H(x)·H(y))`` (0 when either entropy is 0 — a
    constant column shares no information); ``[1]`` the integer-exact
    contingency relation ``(x, y, c, cx, cy, n)`` — one row per joint
    cell with its marginals and the grand total, all counts.  The
    contingency output is what the cross-engine correctness gate hashes
    (pure integers, no transcendental formatting ambiguity); the mi/nmi
    scalars are pytest-oracled against numpy.

    Plan: ONE corpus scan builds the joint contingency ``groupBy(x, y)``
    (map-side partial-combined); the contingency is cardinality-sized
    (|X|·|Y| rows) by construction, so it is collected once and the
    MI/entropy sums run driver-side in numpy over CANONICALLY SORTED
    keys — bit-deterministic regardless of partitioning (a distributed
    ``F.sum`` over doubles is partition-order dependent, and the r04
    driver environment produced a different last-ulp value than the
    local run on exactly that path).  NULL is a category like any other
    (the groupBy keeps it, and the driver-side marginals key on the raw
    value, so no null-unsafe join can drop NULL cells from the MI sum
    while leaving them in n and the entropies).
    """

    xCol = StringParam("xCol", "First categorical column.", "x")
    yCol = StringParam("yCol", "Second categorical column.", "y")

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        (df,) = inputs
        x, y = self.get_("xCol"), self.get_("yCol")
        cell_schema = T.StructType(
            list(df.select(x, y).schema.fields)
            + [T.StructField(c, T.LongType()) for c in
               ("c", "cx", "cy", "n")])
        rows = df.groupBy(x, y).agg(F.count(F.lit(1)).alias("c")).collect()
        n = sum(r["c"] for r in rows)
        if n == 0:
            return [df.sparkSession.createDataFrame(
                [(0, 0.0, 0.0)], "n long, mi double, nmi double"),
                df.sparkSession.createDataFrame([], cell_schema)]
        # canonical key order (NULLs last) -> fixed summation order
        key = lambda v: (v is None, 0 if v is None else v)
        cells = sorted(((r[x], r[y], r["c"]) for r in rows),
                       key=lambda t: (key(t[0]), key(t[1])))
        cx: dict = {}
        cy: dict = {}
        for kx, ky, c in cells:
            cx[kx] = cx.get(kx, 0) + c
            cy[ky] = cy.get(ky, 0) + c
        nf = float(n)
        c_arr = np.array([c for _, _, c in cells], dtype=np.float64)
        cx_arr = np.array([cx[kx] for kx, _, _ in cells], dtype=np.float64)
        cy_arr = np.array([cy[ky] for _, ky, _ in cells], dtype=np.float64)
        mi = float(np.sum((c_arr / nf)
                          * np.log(c_arr * nf / (cx_arr * cy_arr))))
        def ent(marg: dict) -> float:
            a = np.array([marg[k] for k in sorted(marg, key=key)],
                         dtype=np.float64)
            return float(np.sum((a / nf) * -np.log(a / nf)))

        hx, hy = ent(cx), ent(cy)
        denom = (hx * hy) ** 0.5
        nmi = (mi / denom) if denom > 0 else 0.0
        cell_rows = [(kx, ky, int(c), int(cx[kx]), int(cy[ky]), int(n))
                     for kx, ky, c in cells]
        return [df.sparkSession.createDataFrame(
            [(int(n), float(mi), float(nmi))],
            "n long, mi double, nmi double"),
            df.sparkSession.createDataFrame(cell_rows, cell_schema)]


@contextmanager
def _midranks(df: DataFrame, col: str) -> Iterator[DataFrame]:
    """``(v, r2)``: per distinct value of ``col``, TWICE the average-tie
    midrank (``2·(cnt_less + (cnt+1)/2) = 2·cnt_less + cnt + 1`` — always
    an integer, so rank sums stay exact).  ``groupBy(value)`` tie
    collapse, then ``dataflow.ordered_prefix_sums`` for the counts below
    each value — no global single-task sort, nothing corpus-sized
    collected.  A context: finish every action on the ranks inside it."""
    g = (df.groupBy(F.col(col).cast("double").alias("v"))
         .agg(F.count("*").alias("c")).persist())
    try:
        with ordered_prefix_sums(g, [F.col("v").asc()], ["c"],
                                 g.count()) as cum:
            # 2·midrank = 2·(cum_incl − c) + c + 1
            yield cum.select("v", (2 * (F.col("cum_c") - F.col("c"))
                                   + F.col("c") + 1).alias("r2"))
    finally:
        g.unpersist()


class SpearmanCorrelation(AlgoOperator):
    """Spearman rank correlation between two numeric columns: Pearson
    correlation of average-tie midranks, plus the t-distribution p-value
    (t² = ρ²(n−2)/(1−ρ²) ~ F(1, n−2)).  Completes the correlation family
    next to the Pearson ``CorrelationMatrix`` — rank correlation is the
    robust choice for heavy-tailed corpus statistics (doc lengths,
    frequency counts) where Pearson is leverage-dominated.

    Scale design: midranks per column via ``_midranks``
    (``dataflow.ordered_prefix_sums``, no global sort), two hash joins
    back to the rows, then ONE
    aggregation of integer rank sums (doubled midranks are integers, so
    the sums are bit-exact and partition-order independent — the
    determinism lesson from MutualInformation); ρ and p are driver
    arithmetic on the single aggregate row.  ``transform(df)`` → one row
    ``(n, rho, p_value)``.
    """

    xCol = StringParam("xCol", "First numeric column.", "x")
    yCol = StringParam("yCol", "Second numeric column.", "y")

    def transform(self, *inputs: DataFrame) -> list[DataFrame]:
        import math

        from ..common.special import f_sf
        (df,) = inputs
        spark = df.sparkSession
        xc, yc = self.get_("xCol"), self.get_("yCol")
        base = (df.select(F.col(xc).cast("double").alias("x"),
                          F.col(yc).cast("double").alias("y"))
                .filter(F.col("x").isNotNull() & F.col("y").isNotNull()))
        # decimal(38,0) sums: exact integers (no int64 overflow at any
        # corpus size, no float rounding), so the aggregate is bit-identical
        # under any partitioning
        dx = F.col("rx").cast("decimal(19,0)")
        dy = F.col("ry").cast("decimal(19,0)")
        with _midranks(base, "x") as rx, _midranks(base, "y") as ry:
            rx = rx.withColumnRenamed("r2", "rx")
            ry = ry.withColumnRenamed("r2", "ry")
            j = (base.join(rx, base["x"] == rx["v"]).drop("v")
                 .join(ry, base["y"] == ry["v"]).drop("v"))
            a = j.agg(F.count("*").alias("n"),
                      F.sum(dx).alias("sx"), F.sum(dy).alias("sy"),
                      F.sum((dx * dx).cast("decimal(38,0)")).alias("sxx"),
                      F.sum((dy * dy).cast("decimal(38,0)")).alias("syy"),
                      F.sum((dx * dy).cast("decimal(38,0)")).alias("sxy")
                      ).first()
        n = int(a["n"])
        schema = "n long, rho double, p_value double"
        if n < 2:
            return [spark.createDataFrame(
                [(n, float("nan"), float("nan"))], schema)]
        num = n * a["sxy"] - a["sx"] * a["sy"]
        den = math.sqrt(float(n * a["sxx"] - a["sx"] ** 2)
                        * float(n * a["syy"] - a["sy"] ** 2))
        if den == 0:  # a constant column: rho undefined
            return [spark.createDataFrame(
                [(n, float("nan"), float("nan"))], schema)]
        rho = max(-1.0, min(1.0, float(num) / den))
        if abs(rho) >= 1.0 or n <= 2:
            p = 0.0 if n > 2 else float("nan")
        else:
            t2 = rho * rho * (n - 2) / (1.0 - rho * rho)
            p = f_sf(t2, 1, n - 2)
        return [spark.createDataFrame([(n, rho, float(p))], schema)]
