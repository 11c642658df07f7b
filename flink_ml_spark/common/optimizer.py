"""Driver-loop optimizer stack: loss functions + mini-batch SGD.

Re-expression of the reference optimizer (common/optimizer/Optimizer.java:33,
SGD.java:67, RegularizationUtils.java:34) and loss trio
(common/lossfunc/{BinaryLogisticLoss,HingeLoss,LeastSquareLoss}.java).

The reference runs SGD inside its 12k-LoC iteration framework with
allReduceSum gradient sync (SGD.java:125-132).  Spark-first (SURVEY §3.2):
a driver ``for`` loop over a columnar-cached DataFrame; each round is ONE
codegen'd aggregate of dim+2 sums with map-side partial combine — only
dim+2 doubles per partition cross the shuffle (the allReduceSum
analogue, no p=1 stage on data).  Mini-batches: a batch column derived
from the cached layout cycles deterministically (batch b on round r
where r ≡ b mod numBatches) — mirroring SGD.java's per-round local
batch walk (:262-284).  Tiny inputs run the identical loop
driver-local (see sgd()'s regime notes).
Regularization: elastic net  reg*(en*||w||_1 + (1-en)/2*||w||_2²) applied
driver-side (RegularizationUtils.java:26-31).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from . import sqltext as S


def dot_lit(x: str, w: np.ndarray) -> str:
    """SQL text of ``x · w`` for ``x`` the SQL text of an array<double>
    operand (``sqltext.name(c)``, or a cast of it) and ``w`` literal.

    Narrow vectors: unrolled sum of the nonzero terms — stays inside
    whole-stage codegen (higher-order zip_with/aggregate lambdas are
    interpreted, measured ~3x slower in the SGD hot loop); wide vectors:
    HOF form (unrolling thousands of terms blows up codegen)."""
    if len(w) <= 64:
        terms = [f"{x}[{j}] * {S.double(w[j])}"
                 for j in range(len(w)) if w[j] != 0.0]
        return S.left_sum(terms) if terms else "0.0D"
    return (f"aggregate(zip_with({x}, {S.double_array(w)}, (x, y) -> x * y), "
            f"0.0D, (acc, x) -> acc + x)")


@dataclass
class LossFunc:
    """residual(margin, label) = dLoss/dMargin; loss(margin, label)."""
    name: str

    def residual(self, margin: Column, label: Column) -> Column:
        if self.name == "logistic":  # BinaryLogisticLoss.java:29, y ∈ {0,1}
            return F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)) - label
        if self.name == "hinge":  # HingeLoss.java:33, y ∈ {0,1} → y' ∈ {-1,1}
            ysign = label * 2.0 - 1.0
            return F.when(ysign * margin < 1.0, -ysign).otherwise(0.0)
        if self.name == "squared":  # LeastSquareLoss.java:29 (1/2 (m - y)^2)
            return margin - label
        raise ValueError(self.name)

    def loss(self, margin: Column, label: Column) -> Column:
        if self.name == "logistic":
            # log(1 + exp(-y'·m)) with y' = 2y-1, numerically stable form
            ym = (label * 2.0 - 1.0) * margin
            return F.when(ym > 0, F.log1p(F.exp(-ym))).otherwise(-ym + F.log1p(F.exp(ym)))
        if self.name == "hinge":
            ysign = label * 2.0 - 1.0
            return F.greatest(F.lit(0.0), F.lit(1.0) - ysign * margin)
        if self.name == "squared":
            d = margin - label
            return d * d * 0.5
        raise ValueError(self.name)

    def predict_raw_np(self, x: np.ndarray, w: np.ndarray) -> np.ndarray:
        return x @ w

    def residual_np(self, margin: np.ndarray, label: np.ndarray) -> np.ndarray:
        if self.name == "logistic":
            return 1.0 / (1.0 + np.exp(-margin)) - label
        if self.name == "hinge":
            ysign = label * 2.0 - 1.0
            return np.where(ysign * margin < 1.0, -ysign, 0.0)
        if self.name == "squared":
            return margin - label
        raise ValueError(self.name)

    def loss_np(self, margin: np.ndarray, label: np.ndarray) -> np.ndarray:
        if self.name == "logistic":
            ym = (label * 2.0 - 1.0) * margin
            return np.where(ym > 0, np.log1p(np.exp(-np.abs(ym))),
                            -ym + np.log1p(np.exp(-np.abs(ym))))
        if self.name == "hinge":
            ysign = label * 2.0 - 1.0
            return np.maximum(0.0, 1.0 - ysign * margin)
        if self.name == "squared":
            d = margin - label
            return d * d * 0.5
        raise ValueError(self.name)




class _NoAQE:
    """Disable AQE for the duration of a driver iteration loop: every
    round is a small fixed-shape job over a cached input, so adaptive
    re-planning only adds per-job scheduling latency (measured ~35% on
    10-round fits)."""

    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.adaptive.enabled", "true")
        self.spark.conf.set("spark.sql.adaptive.enabled", "false")

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.adaptive.enabled", self.prev)

# small-input gate shared by the iterative learners: below this many
# values the whole train set is collected once (one vectorized Arrow
# pass) and the loop runs driver-local (identical arithmetic).  Tests
# pin it to 0 to force the distributed path on small fixtures.
# r10: 2^21 → 2^24 (128 MB of doubles).  The bound is DRIVER-MEMORY
# sized, not core-count sized: a 10-to-20-round driver loop pays
# rounds × (job scheduling + codegen) on any cluster, so any train set
# a driver comfortably holds solves faster locally — and at 100 TB the
# gate still routes real corpora to the distributed rounds.  2^21 was
# ultra-conservative (16 MB); per-query oracle hashes verified
# unchanged across the regime flip at sf0.001/0.01/0.1.
LOCAL_SOLVE_MAX_VALUES = 1 << 24

BinaryLogisticLoss = LossFunc("logistic")
HingeLoss = LossFunc("hinge")
LeastSquareLoss = LossFunc("squared")


class HuberLoss(LossFunc):
    """Huber loss: squared near the fit, linear in the tails — the
    robust-regression default (Huber 1964).  dL/dm = clamp(m−y, −δ, δ),
    continuous, so no subgradient convention is needed."""

    def __init__(self, delta: float):
        self.name = "huber"
        self.delta = float(delta)

    def residual(self, margin: Column, label: Column) -> Column:
        d = F.lit(self.delta)
        return F.greatest(-d, F.least(d, margin - label))

    def loss(self, margin: Column, label: Column) -> Column:
        d = self.delta
        a = F.abs(margin - label)
        return F.when(a <= d, a * a * 0.5) \
            .otherwise(d * (a - 0.5 * d))

    def residual_np(self, margin: np.ndarray, label: np.ndarray) -> np.ndarray:
        return np.clip(margin - label, -self.delta, self.delta)

    def loss_np(self, margin: np.ndarray, label: np.ndarray) -> np.ndarray:
        a = np.abs(margin - label)
        return np.where(a <= self.delta, 0.5 * a * a,
                        self.delta * (a - 0.5 * self.delta))


class PinballLoss(LossFunc):
    """Quantile (pinball) loss τ·max(y−m, 0) + (1−τ)·max(m−y, 0) —
    minimizing it fits the τ-th conditional quantile (Koenker &
    Bassett 1978).  The subgradient at m == y follows the m ≥ y branch
    (1−τ), a fixed choice so SQL replays match the engine exactly;
    like the hinge residual, the discontinuity is absorbed by the
    per-round weight grid (weightRounding)."""

    def __init__(self, tau: float):
        self.name = "pinball"
        self.tau = float(tau)

    def residual(self, margin: Column, label: Column) -> Column:
        # under-prediction (m < y): dL/dm = −τ; else +(1−τ)
        return F.when(margin < label, F.lit(-self.tau)) \
            .otherwise(F.lit(1.0 - self.tau))

    def loss(self, margin: Column, label: Column) -> Column:
        return F.when(margin < label, (label - margin) * self.tau) \
            .otherwise((margin - label) * (1.0 - self.tau))

    def residual_np(self, margin: np.ndarray, label: np.ndarray) -> np.ndarray:
        return np.where(margin < label, -self.tau, 1.0 - self.tau)

    def loss_np(self, margin: np.ndarray, label: np.ndarray) -> np.ndarray:
        return np.where(margin < label, (label - margin) * self.tau,
                        (margin - label) * (1.0 - self.tau))


def sgd(df: DataFrame, features_col: str, label_col: str, weight_col: str | None,
        loss: LossFunc, dim: int | None = None, *, max_iter: int = 20,
        learning_rate: float = 0.1,
        global_batch_size: int = 32, tol: float = 1e-6, reg: float = 0.0,
        elastic_net: float = 0.0, init_w: np.ndarray | None = None,
        weight_decimals: int = 0) -> tuple[np.ndarray, list[float]]:
    """Returns (coefficients, per-round losses).

    Regime-gated by measurement (PLANS.md):
    - tiny input (rows x (dim+3) <= 2^21): ONE Arrow collect, then the
      identical loop driver-local — round-trip scheduling dwarfs compute.
    - otherwise: columnar-cached DataFrame, per round ONE codegen'd
      aggregate of dim+2 sums (partial map-side combine — only dim+2
      doubles per partition cross the shuffle, the allReduceSum analogue
      of SGD.java:125-132).  A numpy-block RDD variant measured slower
      end-to-end at 10-round fits: its build fee (shuffle + two Python
      hops) exceeds the ~0.2 s/round it saves.

    Mini-batch access is scan-proportional, mirroring the reference's
    operator-state batch walk (SGD.java:262-284): each batch slice is
    persisted the first round it is used (that first touch scans the base
    cache once — amortized, one epoch's worth total), and every revisit
    scans ONLY the slice (≈ batchSize rows), never the full cache.  The
    base cache is released once every batch has its own slice.  When
    maxIter <= numBatches no batch repeats, so slices skip the persist.
    Batch MEMBERSHIP is unchanged (ids derive from the cached layout), so
    results are bit-identical to the naive per-round filter.
    """
    from pyspark import StorageLevel

    from . import vector as V

    sc = df.sparkSession.sparkContext
    w_col = (F.col(weight_col).cast("double") if weight_col else F.lit(1.0))
    # sparse structs densify IN the cache-build pipeline (one Arrow pass
    # fused with the source scan; a raw-struct cache was measured ~2x
    # slower to build than the dense-array cache it would replace)
    base = df.select(
        V.dense_input(df, features_col).alias("__f__"),
        F.col(label_col).cast("double").alias("__y__"),
        w_col.alias("__w__"))
    par = sc.defaultParallelism
    # gate on a PRUNED source count first (no featurization executes):
    # the local path then needs exactly ONE pass through the feature
    # pipeline (toPandas), with no persist/count plans to compile — the
    # old persist-then-gate shape cost ~2 extra codegen compiles per fit
    n = df.count()
    if dim is None:
        if init_w is not None:
            dim = len(init_w)
        elif n == 0:
            dim = 0
        else:  # single-partition probe
            dim = len(base.select("__f__").first()[0])
    num_batches = (1 if global_batch_size >= n
                   else max(1, int(np.ceil(n / global_batch_size))))
    local = n * (dim + 3) <= LOCAL_SOLVE_MAX_VALUES

    w = np.zeros(dim) if init_w is None else np.asarray(init_w, dtype=float).copy()
    losses: list[float] = []
    prev_loss = None
    base_live = False

    if local:
        prepared = base.withColumn(
            "__batch__", F.pmod(F.monotonically_increasing_id(),
                                F.lit(num_batches)).cast("double"))
        # vectorized Arrow collect (r10): toPandas + per-row np.stack
        # built 600k tiny ndarrays on the driver GIL (~seconds); the
        # Arrow list column flattens to ONE contiguous buffer instead.
        # reshape(n, dim) fails loudly on ragged/null rows, as stack did.
        tbl = prepared.toArrow()
        if not tbl.num_rows:
            return w, losses
        flat = tbl.column("__f__").combine_chunks().flatten() \
            .to_numpy(zero_copy_only=False)
        X = flat.reshape(tbl.num_rows, dim).astype(float, copy=False)
        y = tbl.column("__y__").to_numpy(zero_copy_only=False).astype(float)
        wgt = tbl.column("__w__").to_numpy(zero_copy_only=False).astype(float)
        bcol = tbl.column("__batch__").to_numpy(zero_copy_only=False) \
            .astype(float)
    else:
        if base.rdd.getNumPartitions() < par:
            base = base.repartition(par)
        base = base.persist(StorageLevel.MEMORY_AND_DISK)
        base.count()  # materialize the cache
        base_live = True
        # batch ids derive from the CACHED layout, so they are stable
        # across every round's job
        prepared = base.withColumn(
            "__batch__", F.pmod(F.monotonically_increasing_id(),
                                F.lit(num_batches)).cast("double"))
        # size the per-round jobs to the data, not the core count: each
        # round is a dim+2-sum aggregate whose compute is trivial next to
        # task scheduling, so target ~16 MB of cache per task (capped at
        # the core count for big inputs — at 100 TB this resolves to
        # `par`).  coalesce is narrow: tasks read the already-cached
        # blocks, no shuffle, and the row→batch mapping is untouched.
        target = max(1, min(par, int(n * (dim + 3) * 8 // (16 << 20)) + 1))
        if prepared.rdd.getNumPartitions() > 2 * target:
            prepared = prepared.coalesce(target)
        _aqe = _NoAQE(df.sparkSession)
        _aqe.__enter__()
    slices: dict[int, DataFrame] = {}
    revisits = num_batches > 1 and max_iter > num_batches

    def get_batch(bid: int) -> DataFrame:
        if num_batches == 1:
            return prepared
        if not revisits:
            return prepared.filter(F.col("__batch__") == F.lit(float(bid)))
        if bid not in slices:
            slices[bid] = (prepared
                           .filter(F.col("__batch__") == F.lit(float(bid)))
                           .persist(StorageLevel.MEMORY_AND_DISK))
        return slices[bid]

    try:
        for it in range(max_iter):
            bid = it % num_batches
            if local:
                mask = slice(None) if num_batches == 1 else (bcol == bid)
                Xb, yb, wb = X[mask], y[mask], wgt[mask]
                m = Xb @ w
                r = loss.residual_np(m, yb) * wb
                grad = Xb.T @ r
                lsum = float((loss.loss_np(m, yb) * wb).sum())
                weight_sum = float(wb.sum())
            else:
                batch = get_batch(bid)
                margin = F.expr(dot_lit(S.name("__f__"), w))
                r = (loss.residual(margin, F.col("__y__")) * F.col("__w__")).alias("__r__")
                l = (loss.loss(margin, F.col("__y__")) * F.col("__w__")).alias("__l__")
                row = (batch.select(r, l, F.col("__w__"), F.col("__f__"))
                       .agg(*[F.sum(F.col("__r__") * F.col("__f__")[j]).alias(f"g{j}")
                              for j in range(dim)],
                            F.sum("__l__").alias("lsum"),
                            F.sum("__w__").alias("wsum"))
                       .first())
                grad = np.array([row[f"g{j}"] or 0.0 for j in range(dim)])
                weight_sum = row["wsum"] or 0.0
                lsum = row["lsum"] or 0.0
                # the agg above materialized slice `bid`; once every batch
                # has its own cached slice the base cache is redundant
                if base_live and len(slices) == num_batches:
                    base.unpersist()
                    base_live = False
            loss_val = lsum / max(weight_sum, 1e-300)
            losses.append(float(loss_val))
            if weight_sum > 0:
                grad = grad / weight_sum
            if reg > 0:  # RegularizationUtils.java:26-31
                grad = grad + reg * (elastic_net * np.sign(w)
                                     + (1 - elastic_net) * w)
            w = w - learning_rate * grad
            if weight_decimals:
                # cross-engine determinism aid: snap both this loop and a
                # replaying oracle to the same weights each round, so float
                # summation-order noise cannot compound through the
                # discontinuous losses (hinge)
                w = np.round(w, weight_decimals)
            if prev_loss is not None and abs(prev_loss - loss_val) < tol:
                break
            prev_loss = loss_val
    finally:
        if not local:
            _aqe.__exit__()
            if base_live:
                base.unpersist()
            for s in slices.values():
                s.unpersist()
    return w, losses
