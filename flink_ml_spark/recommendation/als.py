"""ALS — alternating-least-squares matrix factorization, bit-exact.

The reference's recommendation family stops at Swing item similarity
(recommendation/swing/Swing.java:81); latent-factor collaborative
filtering is the standard completion (Spark MLlib ``ml.recommendation.
ALS``; Koren/Bell/Volinsky 2009).  Explicit-feedback ALS: alternate

    p_u = (Σ_{i∈R(u)} q_i q_iᵀ + λI)⁻¹ Σ q_i r_ui      (users)
    q_i = (Σ_{u∈R(i)} p_u p_uᵀ + λI)⁻¹ Σ p_u r_ui      (items)

**Bit-deterministic by construction** (the MutualInformation /
Spearman determinism discipline, applied to iterative training):
factors live on a fixed-point micro grid (``factorScale`` decimals,
default 6) and every normal-equation sum runs as an EXACT integer
aggregate — long×long when a per-half-step bound aggregate PROVES no
int64 overflow is possible (the fast lane; see ``_sum_cols``), else
``decimal(38,0)``.  Integer sums are associative, so partition order
cannot move a single ulp, and two engines (or two cluster sizes)
produce identical factors.  The per-entry solve then
runs on bit-identical doubles and re-snaps to the grid.  Initial item
factors are an LCG hash of the item id — reproducible, no RNG.

Scale design: each half-step is ONE join (ratings ⋈ factor relation on
its key — content-keyed shuffle) + ONE map-side-combined groupBy
producing r(r+1)/2 + r integer sums per entity, then pure codegen'd
column arithmetic for the rank-2 closed-form solve (general rank uses
an Arrow-batched solve over the factor-sized relation — never the
ratings).  Factor relations are user-/item-cardinality-sized, are
localCheckpointed per iteration (bounded lineage), and nothing
corpus-sized reaches the driver.  ``transform`` scores (user, item)
pairs with two hash joins and an exact integer dot product.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..api import Estimator, Model
from ..param import FloatParam, IntParam, ParamValidators, StringParam

_M = 2147483648
_MULT = 2654435761


def _sum_cols(rank: int, fcols: list, r_int, long_safe: bool):
    """Exact normal-equation sums: gram upper triangle (unit 1e-2s) +
    rhs (unit 1e-2s, s = factorScale).

    Two lanes, same values where both are defined:

    - **long lane** (``long_safe=True``): plain long×long products and
      long sums — whole-stage-codegen arithmetic, no decimal boxing.
      Taken only when the caller PROVED, from this half-step's actual
      bounds (``max|f| · max(max|f|, max|r|) · max ratings-per-entity <
      2**62``), that neither any product nor any per-entity sum can
      reach int64 range.  Within that envelope long and decimal sums
      are the same exact integers, so bit-determinism is unchanged.
    - **decimal lane**: the LEFT operand is cast to decimal BEFORE the
      multiply — a long*long product wraps silently past ~9.2e18 with
      ANSI off, while decimal×long is exact.  ~2× slower (measured at
      sf0.1), so it is the fallback for proven overflow risk only.
    """
    aggs = []
    if long_safe:
        for i in range(rank):
            for j in range(i, rank):
                aggs.append(F.sum(fcols[i] * fcols[j]).alias(f"g{i}_{j}"))
        for i in range(rank):
            aggs.append(F.sum(fcols[i] * r_int).alias(f"v{i}"))
        return aggs
    for i in range(rank):
        for j in range(i, rank):
            aggs.append(F.sum((fcols[i].cast("decimal(38,0)") * fcols[j])
                              .cast("decimal(38,0)"))
                        .alias(f"g{i}_{j}"))
    for i in range(rank):
        aggs.append(F.sum((fcols[i].cast("decimal(38,0)") * r_int)
                          .cast("decimal(38,0)"))
                    .alias(f"v{i}"))
    return aggs


class ALS(Estimator):
    """``fit(ratings)`` → :class:`ALSModel`.  Ratings: one row per
    (user, item) — pre-aggregate duplicates upstream (``groupBy.avg``)
    so the loss is well-defined."""

    userCol = StringParam("userCol", "User id column (integral).", "user")
    itemCol = StringParam("itemCol", "Item id column (integral).", "item")
    ratingCol = StringParam("ratingCol", "Rating column.", "rating")
    rank = IntParam("rank", "Latent dimension.", 2, ParamValidators.gt(0))
    maxIter = IntParam("maxIter", "Alternation rounds (one round = user "
                       "step + item step).", 5, ParamValidators.gt(0))
    # strictly positive: with λ=0 any user/item whose gram matrix is
    # singular (e.g. a single rating at rank 2) divides by det=0 —
    # NaN/inf factors silently, LinAlgError at general rank
    regParam = FloatParam("regParam", "Ridge λ (must be > 0).", 0.1,
                          ParamValidators.gt(0))
    factorScale = IntParam("factorScale", "Fixed-point decimals for the "
                           "factor grid (6 → micro units).", 6,
                           ParamValidators.in_range(3, 9))
    initSalt = IntParam("initSalt", "LCG salt for the deterministic "
                        "item-factor init.", 7)

    # test hook: force the decimal lane regardless of the proven bound
    # (used to pin long-lane == decimal-lane factor equality)
    _force_decimal = False

    def fit(self, *inputs: DataFrame) -> "ALSModel":
        (df,) = inputs
        rank = int(self.get_("rank"))
        lam = float(self.get_("regParam"))
        scale = 10 ** int(self.get_("factorScale"))
        salt = int(self.get_("initSalt"))
        u, i = self.get_("userCol"), self.get_("itemCol")
        r = F.col(self.get_("ratingCol")).cast("double")
        ratings = (df.select(F.col(u).cast("long").alias("u"),
                             F.col(i).cast("long").alias("i"),
                             F.round(r * scale).cast("long").alias("r"))
                   .filter(F.col("u").isNotNull() & F.col("i").isNotNull()
                           & F.col("r").isNotNull())
                   .persist())
        fcols = [f"f{j}" for j in range(rank)]
        # deterministic init on the grid: f_j ∈ [0.1, 0.3)
        # init grid: f_j ∈ [0.1, 0.3) regardless of factorScale —
        # the span/offset are scale/5 and scale/10 grid units
        inner = ((F.col("i") % _M) + _M) % _M
        q = ratings.select("i").distinct().select(
            "i", *[(((inner * _MULT + salt + j) % _M % (scale // 5))
                    + scale // 10).alias(fcols[j])
                   for j in range(rank)])
        q = q.localCheckpoint(eager=False)
        # fixed per-fit bounds for the long-lane overflow guard: max
        # ratings-per-entity on each grouping and max |r|.  r10: the
        # former three aggregate jobs (global bnd + one groupBy-max per
        # side) fuse into ONE grouping-sets pass — the () set carries
        # (n, max|r|), the (u)/(i) sets carry the per-side count maxima.
        gs = (ratings.groupingSets([[], ["u"], ["i"]], "u", "i")
              .agg(F.count(F.lit(1)).alias("c"),
                   F.max(F.abs(F.col("r"))).alias("mr"),
                   F.grouping_id().alias("g")))
        bnd = gs.agg(
            F.max(F.when(F.col("g") == 3, F.col("mr"))).alias("mr"),
            F.max(F.when(F.col("g") == 3, F.col("c"))).alias("n"),
            F.max(F.when(F.col("g") == 1, F.col("c"))).alias("cu"),
            F.max(F.when(F.col("g") == 2, F.col("c"))).alias("ci")).first()
        max_r = int(bnd["mr"] or 0)
        cnt = ({"u": int(bnd["cu"] or 0), "i": int(bnd["ci"] or 0)}
               if bnd["n"] else {"u": 0, "i": 0})
        self._lane_log = []  # per-half-step "long"/"decimal", for tests
        p = None
        # r10 job-count collapse: half-step outputs checkpoint LAZILY and
        # the NEXT half-step's max|f| aggregate is the action that
        # materializes them — one job per half-step instead of two.  The
        # init factors need no aggregate at all: the LCG grid is bounded
        # by scale/5 + scale/10 by construction (a conservative-only
        # stand-in — the long lane stays provably exact under any
        # overestimate of max|f|).
        fmax = scale // 5 + scale // 10
        for _ in range(int(self.get_("maxIter"))):
            p = self._half_step(ratings, q, "i", "u", rank, lam, scale,
                                cnt["u"], max_r, known_max_f=fmax)
            q = self._half_step(ratings, p, "u", "i", rank, lam, scale,
                                cnt["i"], max_r)
            fmax = None
        # the final item factors are still lazy — materialize their
        # checkpoint before the ratings cache (their input) goes away
        q.count()
        ratings.unpersist()
        model = ALSModel()
        model.set_(userCol=u, itemCol=i)
        model.set(ALSModel.rank, rank)
        model.set(ALSModel.factorScale, int(self.get_("factorScale")))
        model.user_factors = p
        model.item_factors = q
        model.model_data = {"rank": rank,
                            "factorScale": int(self.get_("factorScale"))}
        return model

    def _half_step(self, ratings: DataFrame, factors: DataFrame,
                   fkey: str, okey: str, rank: int, lam: float,
                   scale: int, max_cnt: int, max_r: int,
                   known_max_f: int | None = None) -> DataFrame:
        """Solve the ``okey`` side given ``fkey``-side factors.

        Lane choice: one one-number aggregate on the (entity-sized,
        lazily-checkpointed) factor relation gives ``max|f|`` — and is
        the action that MATERIALIZES the previous half-step's
        checkpoint, so each half-step costs one job (r10); if
        ``max|f| · max(max|f|, max|r|) · max_cnt < 2**62`` no product
        or per-entity sum can reach int64 range, so the codegen'd
        long×long lane is exact-equal to the decimal lane and ~2×
        faster.  Realistic configurations always qualify (factors stay
        O(rating_max/√rank) on the 1e-6 grid ≈ 1e7 units → bound ≈
        1e14·max_cnt); pathological magnitudes fall back to decimal.
        ``known_max_f`` (an analytic upper bound, e.g. the init grid's)
        skips the aggregate; any overestimate keeps the guard sound —
        it can only route to the always-exact decimal lane.
        """
        fcols = [F.col(f"f{j}") for j in range(rank)]
        max_f = known_max_f if known_max_f is not None else int(
            factors.agg(F.max(F.greatest(*[
                F.abs(c) for c in fcols]) if rank > 1
                else F.abs(fcols[0]))).first()[0] or 0)
        long_safe = (not self._force_decimal and max_cnt > 0 and
                     max_f * max(max_f, max_r) * max_cnt < 2 ** 62)
        self._lane_log.append("long" if long_safe else "decimal")
        sums = (ratings.join(factors, fkey)
                .groupBy(okey)
                .agg(*_sum_cols(rank, fcols, F.col("r"), long_safe)))
        # λ in gram units: factors and ratings are 1e-s grids, so the
        # gram/rhs sums carry unit 1e-2s and λI scales by scale²
        lam_s = float(lam) * scale * scale
        if rank == 2:
            a = F.col("g0_0").cast("double") + lam_s
            b = F.col("g0_1").cast("double")
            c = F.col("g1_1").cast("double") + lam_s
            v1 = F.col("v0").cast("double")
            v2 = F.col("v1").cast("double")
            det = a * c - b * b
            out = sums.select(
                okey,
                F.round((c * v1 - b * v2) / det * scale)
                .cast("long").alias("f0"),
                F.round((a * v2 - b * v1) / det * scale)
                .cast("long").alias("f1"))
        else:
            import pandas as pd
            gcols = [f"g{i}_{j}" for i in range(rank)
                     for j in range(i, rank)]
            vcols = [f"v{i}" for i in range(rank)]

            def solve(batches):
                for pdf in batches:
                    if not len(pdf):
                        continue
                    n = len(pdf)
                    G = np.zeros((n, rank, rank))
                    k = 0
                    for ii in range(rank):
                        for jj in range(ii, rank):
                            col = pdf[gcols[k]].astype(float).to_numpy()
                            G[:, ii, jj] = col
                            G[:, jj, ii] = col
                            k += 1
                    G += lam_s * np.eye(rank)[None, :, :]
                    V = np.stack([pdf[c].astype(float).to_numpy()
                                  for c in vcols], axis=1)
                    sol = np.linalg.solve(G, V)
                    out = {okey: pdf[okey]}
                    for j in range(rank):
                        out[f"f{j}"] = np.round(sol[:, j] * scale) \
                            .astype("int64")
                    yield pd.DataFrame(out)

            out = sums.mapInPandas(
                solve, f"{okey} long, " + ", ".join(
                    f"f{j} long" for j in range(rank)))
        # lazy: the NEXT half-step's max|f| aggregate (or the
        # fit-final count) is the materializing action
        return out.localCheckpoint(eager=False)


class ALSModel(Model):
    """Scores (user, item) pairs: two hash joins against the factor
    relations and an exact integer dot product (missing users/items
    yield null predictions via left joins)."""

    userCol = StringParam("userCol", "User id column.", "user")
    itemCol = StringParam("itemCol", "Item id column.", "item")
    predictionCol = StringParam("predictionCol", "Output column.",
                                "prediction")
    rank = IntParam("rank", "Latent dimension.", 2)
    factorScale = IntParam("factorScale", "Fixed-point decimals.", 6)

    def __init__(self, **kwargs):
        super().__init__(**kwargs)
        self.user_factors: DataFrame | None = None
        self.item_factors: DataFrame | None = None

    def _transform(self, df: DataFrame) -> DataFrame:
        rank = int(self.get_("rank"))
        scale = 10 ** int(self.get_("factorScale"))
        pu = self.user_factors.select(
            F.col("u").alias("__alsu__"),
            *[F.col(f"f{j}").alias(f"__pu{j}__") for j in range(rank)])
        qi = self.item_factors.select(
            F.col("i").alias("__alsi__"),
            *[F.col(f"f{j}").alias(f"__qi{j}__") for j in range(rank)])
        dot = None
        for j in range(rank):
            term = (F.col(f"__pu{j}__") * F.col(f"__qi{j}__")) \
                .cast("decimal(38,0)")
            dot = term if dot is None else dot + term
        pred = (dot.cast("double") / (float(scale) * scale))
        out = (df.join(pu, df[self.get_("userCol")].cast("long")
                       == F.col("__alsu__"), "left")
               .join(qi, df[self.get_("itemCol")].cast("long")
                     == F.col("__alsi__"), "left")
               .withColumn(self.get_("predictionCol"), pred))
        drop = (["__alsu__", "__alsi__"]
                + [f"__pu{j}__" for j in range(rank)]
                + [f"__qi{j}__" for j in range(rank)])
        return out.drop(*drop)

    def recommend_for_users(self, users: DataFrame, k: int,
                            max_broadcast_items: int = 2_000_000
                            ) -> DataFrame:
        """Top-``k`` items per requested user: broadcast the item-factor
        relation (model-sized; fail fast above ``max_broadcast_items``
        — at larger catalogs build an ANN index over the item factors,
        e.g. ``IVFIndex``, instead of exact scoring) and rank with
        ``top_k_per_key``, whose partial window-group limit keeps k per
        user per map partition before the shuffle.  Returns (userCol,
        itemCol, score, rank)."""
        n_items = self.item_factors.count()
        if n_items > max_broadcast_items:
            raise ValueError(
                f"recommend_for_users: {n_items} items exceed the "
                f"broadcast cap ({max_broadcast_items}); score through "
                f"an ANN index over the item factors instead")
        rank = int(self.get_("rank"))
        scale = 10 ** int(self.get_("factorScale"))
        ucol, icol = self.get_("userCol"), self.get_("itemCol")
        pu = self.user_factors.select(
            F.col("u").alias("__alsu__"),
            *[F.col(f"f{j}").alias(f"__pu{j}__") for j in range(rank)])
        qi = self.item_factors.select(
            F.col("i").alias("__alsi__"),
            *[F.col(f"f{j}").alias(f"__qi{j}__") for j in range(rank)])
        req = (users.select(F.col(ucol).cast("long").alias("__alsu__"))
               .distinct().join(pu, "__alsu__"))
        dot = None
        for j in range(rank):
            term = (F.col(f"__pu{j}__") * F.col(f"__qi{j}__")) \
                .cast("decimal(38,0)")
            dot = term if dot is None else dot + term
        scored = (req.join(F.broadcast(qi))
                  .select("__alsu__", "__alsi__",
                          (dot.cast("double") / (float(scale) * scale))
                          .alias("score")))
        from ..common.dataflow import top_k_per_key
        out = top_k_per_key(
            scored, ["__alsu__"],
            [F.col("score").desc(), F.col("__alsi__")], int(k),
            rank_col="rank")
        return out.select(F.col("__alsu__").alias(ucol),
                          F.col("__alsi__").alias(icol), "score", "rank")

    def get_model_data(self, spark: SparkSession) -> list[DataFrame]:
        return [self.user_factors, self.item_factors]

    def set_model_data(self, *tables: DataFrame) -> "ALSModel":
        self.user_factors, self.item_factors = tables
        return self

    def _save_model_data(self, path: str) -> None:
        self.user_factors.write.mode("overwrite").parquet(
            os.path.join(path, "user_factors"))
        self.item_factors.write.mode("overwrite").parquet(
            os.path.join(path, "item_factors"))

    def _load_model_data(self, spark: SparkSession, path: str) -> None:
        p = os.path.join(path, "user_factors")
        if os.path.exists(p):
            self.user_factors = spark.read.parquet(p)
            self.item_factors = spark.read.parquet(
                os.path.join(path, "item_factors"))
