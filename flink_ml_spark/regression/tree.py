"""DecisionTreeRegressor — histogram-based CART, bit-exact splits.

Trees are the reference's declared scope boundary (SURVEY §2.12: "no
tree/ensemble models") and the most-requested completion next to
tuning; this is the standard distributed formulation (histogram /
approximate split finding — the XGBoost (Chen & Guestrin 2016) /
LightGBM design), built Spark-first:

- **One pass per level.**  Rows carry a ``node`` column; each level is
  ONE ``groupBy(node, feature, bin)`` aggregation (map-side combined,
  ≤ nodes·features·bins rows out — model-sized), split selection is
  driver arithmetic on that tiny relation, and the node column
  advances via one broadcast join against the chosen splits.  Depth d
  costs d scans — the corpus itself is never shuffled.
- **Bit-exact split selection** (the ALS fixed-point discipline):
  labels snap to an integer grid (``labelScale`` decimals) and the
  per-bin statistics are exact decimal integer sums, so histogram
  content is partition-order independent; variance-reduction gains
  (Sl²/nl + Sr²/nr) are compared as EXACT RATIONALS via
  arbitrary-precision integer cross-multiplication — no float gain can
  flip a split between runs, engines, or cluster sizes.  Ties break by
  (feature, bin), lowest first.
- **Bin = threshold count.**  A row's bin for feature f is the number
  of candidate thresholds strictly below its value, so the fit-time
  partition and the inference rule (``x <= thr`` goes left) agree
  EXACTLY — no floor-arithmetic boundary mismatch.  Candidate
  thresholds are uniform between the per-feature global min/max
  (``binStrategy="uniform"``, engine-replayable) or equi-depth
  percentiles (``"quantile"``, better for skew).  Quantile edges come
  from the mergeable ``approx_percentile`` sketch by DEFAULT — the
  100 TB path (the reference's own quantile work uses GK sketches,
  QuantileSummary.java:42); ``exactQuantiles=True`` opts into exact
  ``percentile`` (a full-sort aggregate — small-data / oracle parity
  only).  Sketch error is BOUNDED: each edge's rank is within
  N/quantileAccuracy of the exact quantile's (GK guarantee), so fitted
  split thresholds drift at most ~2·N/accuracy ranks from the exact
  fit — pinned on a skewed column by
  tests/test_tree.py::test_tree_sketch_split_rank_drift_within_epsilon.
- **Codegen-safe binning.**  The threshold-count bin is a chain of
  ``dim × (maxBins−1)`` comparisons — ideal whole-stage-codegen work
  at the default 32 bins, hostile at maxBins=1024 × wide features; past
  ``_CODEGEN_BIN_LIMIT`` total comparisons the bins come from ONE
  Arrow-batched ``searchsorted`` UDF instead (bit-identical results:
  both count thresholds strictly below x with exact float compares).
- **Codegen inference.**  The fitted tree compiles to nested
  ``F.when`` column expressions — ``transform`` is whole-stage-codegen
  row arithmetic, zero shuffles; ``transform_local`` serves the same
  tree over pandas.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..api import Estimator, Model
from ..param import (BoolParam, HasFeaturesCol, HasLabelCol,
                     HasPredictionCol, IntParam, ParamValidators,
                     StringParam)

# past this many total threshold comparisons (dim × per-feature
# thresholds), chained codegen CASEs degrade compilation; switch to the
# Arrow searchsorted bin path (identical results)
_CODEGEN_BIN_LIMIT = 4096

# past this many accumulated splits, the per-level node walk folds into
# a stored column (one materialization) instead of growing the CASE
# expression — bounds codegen for deep trees; identical node ids
_NODE_EXPR_LIMIT = 256


class DecisionTreeRegressor(Estimator, HasFeaturesCol, HasLabelCol,
                            HasPredictionCol):
    maxDepth = IntParam("maxDepth", "Maximum tree depth.", 4,
                        ParamValidators.in_range(1, 12))
    maxBins = IntParam("maxBins", "Histogram bins per feature.", 32,
                       ParamValidators.in_range(2, 1024))
    minInstancesPerNode = IntParam(
        "minInstancesPerNode", "Minimum rows on each side of a split.",
        1, ParamValidators.gt(0))
    labelScale = IntParam("labelScale", "Fixed-point decimals for the "
                          "label grid.", 6, ParamValidators.in_range(0, 9))
    binStrategy = StringParam(
        "binStrategy", "uniform | quantile bin edges.", "uniform",
        ParamValidators.in_array(["uniform", "quantile"]))
    exactQuantiles = BoolParam(
        "exactQuantiles", "binStrategy='quantile' only: exact "
        "percentile edges (buffers every value — small-data / "
        "oracle-parity path) instead of the mergeable approx_percentile "
        "sketch whose state stays bounded at any scale.", False)
    quantileAccuracy = IntParam(
        "quantileAccuracy", "approx_percentile accuracy (1/eps) for "
        "quantile bin edges.  Bin placement only needs ~bins-level "
        "rank resolution, and sketch update cost grows with accuracy "
        "(64-dim × 1M rows, warm: acc 10000 ≈ 187s, 1000 ≈ 19s, "
        "200 ≈ 5s vs exact 1.6s — PLANS.md), so default "
        "to ~2 bins of slack at maxBins=128 and raise only for very "
        "large maxBins.  Exact percentile is faster LOCALLY but "
        "buffers the entire column in one final aggregation group — "
        "infeasible at corpus scale, which is why the bounded sketch "
        "is the default.", 200, ParamValidators.gt(0))

    def fit(self, *inputs: DataFrame) -> "DecisionTreeRegressorModel":
        (df,) = inputs
        scale = 10 ** int(self.get_("labelScale"))
        fcol = self.get_("featuresCol")
        y = F.col(self.get_("labelCol")).cast("double")
        base = (df.select(F.col(fcol).cast("array<double>").alias("x"),
                          F.round(y * scale).cast("long").alias("y"))
                .filter(F.col("x").isNotNull() & F.col("y").isNotNull()))
        first = base.select("x").first()
        if first is None:
            raise ValueError("DecisionTreeRegressor: no training rows")
        dim = len(first["x"])
        thresholds = self._thresholds(base, dim)
        # the features array is only needed to compute the bins — the
        # level loop materializes ONLY (y, b0..b{dim-1}), once
        tagged = self._bin_frame(base, thresholds) \
            .localCheckpoint(eager=True)
        tree = self._fit_binned(tagged, thresholds, scale)
        model = DecisionTreeRegressorModel()
        model.set_(featuresCol=fcol,
                   predictionCol=self.get_("predictionCol"))
        model.model_data = {
            "dim": dim,
            "nodes": {str(k): v for k, v in tree.items()},
            "labelScale": int(self.get_("labelScale"))}
        return model

    def _thresholds(self, base: DataFrame, dim: int) -> list[list[float]]:
        """Candidate thresholds per feature — ONE aggregation job.
        Depends on the FEATURES only, so ensemble fits over a fixed
        feature frame (GBT's residual chain) compute this once."""
        bins = int(self.get_("maxBins"))
        if self.get_("binStrategy") == "uniform":
            r = base.agg(*[F.min(F.col("x")[i]).alias(f"lo{i}")
                           for i in range(dim)],
                         *[F.max(F.col("x")[i]).alias(f"hi{i}")
                           for i in range(dim)]).first()
            thresholds = []
            for i in range(dim):
                lo, hi = float(r[f"lo{i}"]), float(r[f"hi{i}"])
                thresholds.append(
                    [] if hi <= lo else
                    [lo + (hi - lo) / bins * (b + 1)
                     for b in range(bins - 1)])
        else:
            probs = [b / bins for b in range(1, bins)]
            if self.get_("exactQuantiles"):
                qf = lambda c, p: F.percentile(c, p)
            else:
                acc = F.lit(int(self.get_("quantileAccuracy")))
                qf = lambda c, p: F.percentile_approx(c, p, acc)
            r = base.agg(*[qf(F.col("x")[i],
                              F.lit([float(p) for p in probs]))
                           .alias(f"q{i}") for i in range(dim)]).first()
            thresholds = [sorted(set(float(v) for v in r[f"q{i}"]))
                          for i in range(dim)]
        return thresholds

    @staticmethod
    def _bin_frame(base: DataFrame, thresholds: list[list[float]],
                   keep: tuple = ("y",)) -> DataFrame:
        """(x, keep...) → (keep..., b0..b{dim-1}) bin indices."""
        dim = len(thresholds)

        def bin_expr(i: int):
            # number of thresholds strictly below x — makes the bin
            # partition and the `x <= thr` inference rule coincide
            e = F.lit(0)
            for t in thresholds[i]:
                e = e + (F.col("x")[i] > F.lit(t)).cast("int")
            return e

        if sum(len(t) for t in thresholds) <= _CODEGEN_BIN_LIMIT:
            return base.select(
                *keep, *[bin_expr(i).alias(f"b{i}") for i in range(dim)])
        # wide input × many bins: ONE Arrow searchsorted pass
        # replaces the comparison chains; searchsorted side='left'
        # is exactly "thresholds strictly below x"
        thr_np = [np.asarray(t, dtype=float) for t in thresholds]

        @F.pandas_udf("array<int>")
        def _bins(xs: pd.Series) -> pd.Series:
            X = np.stack(xs.to_numpy())
            out = np.zeros((X.shape[0], len(thr_np)), dtype=np.int32)
            for i, t in enumerate(thr_np):
                if len(t):
                    out[:, i] = np.searchsorted(t, X[:, i],
                                                side="left")
            return pd.Series(list(out))

        return (base.select(*keep, _bins("x").alias("__bb__"))
                .select(*keep,
                        *[F.col("__bb__")[i].alias(f"b{i}")
                          for i in range(dim)]))

    def _fit_binned(self, tagged: DataFrame,
                    thresholds: list[list[float]],
                    scale: int) -> dict[int, dict]:
        """Level loop over a pre-binned frame (y long, b0..b{dim-1}).

        r09 restructure (guide §1.2/§2.4 — fewer passes, nothing
        rematerialized): the per-row node id is a pure function of the
        bin columns and the splits chosen so far, so instead of
        advancing a stored ``node`` column with a broadcast join + a
        FULL localCheckpoint per level (the r08 shape: 2 jobs and one
        corpus materialization per level), each level computes the node
        id as a nested-CASE walk of the accumulated splits over the ONE
        static checkpointed bin frame — 1 aggregation job per level,
        zero per-level materializations.  Past ``_NODE_EXPR_LIMIT``
        accumulated splits (deep trees) the walk is folded into a
        stored column once and the accumulator resets, bounding codegen
        size; results are identical either way (same split arithmetic,
        same node ids).  Leaf values come from the SAME histograms that
        chose the splits (exact integer (n, Σy) marginals of the split
        feature), eliminating the old final leaves pass — bit-identical
        because every sum is an exact integer either way."""
        depth = int(self.get_("maxDepth"))
        min_inst = int(self.get_("minInstancesPerNode"))
        dim = len(thresholds)
        tree: dict[int, dict] = {}  # node -> {feat, thr} | {value}
        pending: dict[int, tuple[int, int]] = {}  # splits not yet stored
        totals: dict[int, tuple[int, int]] = {}  # node -> exact (n, Σy)
        roots: list[int] | None = None  # stored node values; None = all 0
        frontier = [0]

        def walk(n: int):
            s = pending.get(n)
            if s is None:
                return F.lit(n)
            f, b = s
            return F.when(F.col(f"b{f}") <= F.lit(b),
                          walk(2 * n + 1)).otherwise(walk(2 * n + 2))

        def node_col():
            if roots is None:
                return walk(0)
            e = F.col("node")
            for r in roots:
                if r in pending:
                    e = F.when(F.col("node") == r, walk(r)).otherwise(e)
            return e

        for _ in range(depth):
            if not frontier:
                break
            # ONE pass per level: the per-(node, feature, bin) histogram;
            # node totals are its feature-0 marginal (model-sized collect)
            stats = (tagged
                     .withColumn("__nd__", node_col())
                     .filter(F.col("__nd__").isin(frontier))
                     .select(F.col("__nd__").alias("node"), "y",
                             F.explode(F.array(*[
                                 F.struct(F.lit(i).alias("f"),
                                          F.col(f"b{i}").alias("b"))
                                 for i in range(dim)])).alias("fb"))
                     .groupBy("node", F.col("fb.f").alias("f"),
                              F.col("fb.b").alias("b"))
                     .agg(F.count(F.lit(1)).alias("n"),
                          F.sum(F.col("y").cast("decimal(38,0)"))
                          .alias("s"))
                     .collect())  # ≤ frontier·dim·bins rows: model-sized
            by_node: dict[int, dict] = {}
            for row in stats:
                by_node.setdefault(int(row["node"]), {}) \
                    .setdefault(int(row["f"]), {})[int(row["b"])] = (
                        int(row["n"]), int(row["s"] or 0))
            new_frontier: list[int] = []
            any_split = False
            for node in sorted(by_node):
                n_tot = sum(v[0] for v in by_node[node][0].values())
                s_tot = sum(v[1] for v in by_node[node][0].values())
                best = None  # (num, den, feat, bin): exact rational max
                for f in sorted(by_node.get(node, {})):
                    hist = by_node[node][f]
                    nl = sl = 0
                    for b in range(len(thresholds[f])):
                        if b in hist:
                            nl += hist[b][0]
                            sl += hist[b][1]
                        nr, sr = n_tot - nl, s_tot - sl
                        if nl < min_inst or nr < min_inst:
                            continue
                        num = sl * sl * nr + sr * sr * nl
                        den = nl * nr
                        # positive gain: num/den > S²/n   (exact)
                        if num * n_tot <= s_tot * s_tot * den:
                            continue
                        if best is None or num * best[1] > best[0] * den:
                            best = (num, den, f, b)
                if best is not None:
                    num, den, f, b = best
                    any_split = True
                    # children's exact totals from the split feature's
                    # histogram margins (replaces the old leaves pass)
                    hist = by_node[node][f]
                    nl = sl = 0
                    for bb in range(b + 1):
                        if bb in hist:
                            nl += hist[bb][0]
                            sl += hist[bb][1]
                    totals[2 * node + 1] = (nl, sl)
                    totals[2 * node + 2] = (n_tot - nl, s_tot - sl)
                    pending[node] = (f, b)
                    # count-weighted variance reduction (label units²):
                    # n·Δvar = num/den − S²/n, off the exact integers —
                    # the standard gain-based importance contribution
                    gain = (num / den - s_tot * s_tot / n_tot) \
                        / (scale * scale)
                    tree[node] = {"feat": f, "thr": thresholds[f][b],
                                  "bin": int(b), "gain": float(gain),
                                  "n": int(n_tot)}
                    new_frontier += [2 * node + 1, 2 * node + 2]
                elif n_tot > 0:
                    # frontier node that won't split — a leaf, valued
                    # off the exact integers already in hand
                    tree[node] = {"value": s_tot / n_tot / scale}
            if not any_split:
                frontier = []
                break
            frontier = new_frontier
            if len(pending) > _NODE_EXPR_LIMIT:
                # deep tree: fold the walk into a stored column once so
                # codegen stays bounded (identical node ids)
                tagged = (tagged
                          .select(node_col().alias("node"), "y",
                                  *[F.col(f"b{i}") for i in range(dim)])
                          .localCheckpoint(eager=True))
                pending = {}
                roots = list(frontier)
        # depth reached: the last level's children are leaves, valued
        # from the exact totals recorded when their parent split
        for node in frontier:
            if node not in tree and node in totals:
                n_t, s_t = totals[node]
                if n_t > 0:
                    tree[node] = {"value": s_t / n_t / scale}
        return tree


def ensemble_importances(tree_node_dicts, dim: int) -> list[float]:
    """Gain-based importances summed across an ensemble's trees (the
    forest/GBT ``feature_importances_`` convention: per-tree gains
    accumulate, then normalize once)."""
    imp = [0.0] * dim
    for nodes in tree_node_dicts:
        for v in nodes.values():
            if "feat" in v and v.get("gain"):
                imp[int(v["feat"])] += float(v["gain"])
    tot = sum(imp)
    return [x / tot for x in imp] if tot > 0 else imp


class DecisionTreeClassifier(DecisionTreeRegressor):
    """Binary classifier on the same histogram machinery: for 0/1
    labels, variance reduction is EQUIVALENT to the Gini impurity
    criterion (both reduce to maximizing Σ sl²/nl over children for
    fixed totals), so the regressor's bit-exact split selection IS the
    Gini tree.  Leaf values are the positive-class rates;
    ``transform`` emits ``probabilityCol`` (leaf rate) and
    ``predictionCol`` (rate > 0.5).  ``labelScale`` is forced to 0 —
    0/1 labels are already integral, keeping histogram sums minimal."""

    probabilityCol = StringParam("probabilityCol",
                                 "Positive-class rate column.",
                                 "probability")

    def fit(self, *inputs: DataFrame) -> "DecisionTreeClassifierModel":
        (df,) = inputs
        y = F.col(self.get_("labelCol")).cast("double")
        bad = df.filter(y.isNotNull() & ~y.isin(0.0, 1.0)).limit(1).count()
        if bad:
            raise ValueError(
                "DecisionTreeClassifier: labels must be 0/1 (binary)")
        saved = self.get_("labelScale")
        self.set(DecisionTreeRegressor.labelScale, 0)
        try:
            reg = super().fit(df)
        finally:
            self.set(DecisionTreeRegressor.labelScale, saved)
        model = DecisionTreeClassifierModel()
        model.set_(featuresCol=self.get_("featuresCol"),
                   predictionCol=self.get_("predictionCol"))
        model.set(DecisionTreeClassifierModel.probabilityCol,
                  self.get_("probabilityCol"))
        model.model_data = reg.model_data
        return model


class DecisionTreeRegressorModel(Model, HasFeaturesCol, HasPredictionCol):
    def _node_map(self) -> dict[int, dict]:
        return {int(k): v for k, v in self.model_data["nodes"].items()}

    def splits_df(self, spark) -> DataFrame:
        """Model introspection as a relation: one row per SPLIT node —
        ``(node, feat, bin, thr)``.  Bit-exact fit ⇒ this relation is
        SQL-replayable (the oracle unions the per-level best CTEs)."""
        rows = sorted(
            (int(k), int(v["feat"]), int(v.get("bin", -1)),
             float(v["thr"]))
            for k, v in self._node_map().items() if "feat" in v)
        return spark.createDataFrame(
            rows, "node int, feat int, bin int, thr double")

    def feature_importances(self) -> list[float]:
        """Gain-based importances (sum of count-weighted variance
        reduction per feature, normalized to 1) — the standard CART /
        sklearn ``feature_importances_`` definition.  Zeros when the
        tree is a stump or was loaded from a pre-gain artifact."""
        dim = int(self.model_data["dim"])
        imp = [0.0] * dim
        for v in self._node_map().values():
            if "feat" in v and v.get("gain"):
                imp[int(v["feat"])] += float(v["gain"])
        tot = sum(imp)
        return [x / tot for x in imp] if tot > 0 else imp

    def _transform(self, df: DataFrame) -> DataFrame:
        nodes = self._node_map()
        x = F.col(self.get_("featuresCol")).cast("array<double>")

        def expr(node: int):
            info = nodes.get(node)
            if info is None:
                return F.lit(None).cast("double")
            if "value" in info:
                return F.lit(float(info["value"]))
            return F.when(x[info["feat"]] <= F.lit(info["thr"]),
                          expr(2 * node + 1)) \
                .otherwise(expr(2 * node + 2))

        return df.withColumn(self.get_("predictionCol"), expr(0))

    def transform_local(self, pdf):
        nodes = self._node_map()
        out = pdf.copy()

        def walk(vec) -> float:
            node = 0
            while True:
                info = nodes.get(node)
                if info is None:
                    return float("nan")
                if "value" in info:
                    return float(info["value"])
                node = (2 * node + 1 if vec[info["feat"]] <= info["thr"]
                        else 2 * node + 2)

        out[self.get_("predictionCol")] = [
            walk(v) for v in pdf[self.get_("featuresCol")]]
        return out


class DecisionTreeClassifierModel(DecisionTreeRegressorModel):
    probabilityCol = StringParam("probabilityCol",
                                 "Positive-class rate column.",
                                 "probability")

    def _transform(self, df: DataFrame) -> DataFrame:
        pcol = self.get_("probabilityCol")
        saved = self.get_("predictionCol")
        # the regressor writes the leaf rate into predictionCol;
        # rename it to probabilityCol and threshold for the class
        return super()._transform(df) \
            .withColumnRenamed(saved, pcol) \
            .withColumn(saved, (F.col(pcol) > 0.5).cast("double"))

    def transform_local(self, pdf):
        out = super().transform_local(pdf)
        pcol = self.get_("probabilityCol")
        pred = self.get_("predictionCol")
        out[pcol] = out[pred]
        out[pred] = (out[pcol] > 0.5).astype(float)
        return out
