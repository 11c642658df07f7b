"""Online (streaming) estimators: OnlineStandardScaler, OnlineKMeans,
OnlineLogisticRegression (FTRL).

Reference:
- feature/standardscaler/OnlineStandardScaler.java:76 — windowed
  history-cumulative mean/std over an unbounded stream; one model version
  per window (version at :173); OnlineStandardScalerModel.java:63 joins
  data with the latest model within maxAllowedModelDelayMs (:128-160),
  optional modelVersionCol.
- clustering/kmeans/OnlineKMeans.java:76 — mini-batch k-means with decay
  on the feedback loop (:95-180).
- classification/logisticregression/OnlineLogisticRegression.java:75 —
  FTRL-Proximal (McMahan et al., public algorithm) per global batch
  (UpdateModel :265-330).

Spark mapping (SURVEY §2.10/§3.2): the unbounded-iteration feedback loop
is not expressible in Structured Streaming — each estimator becomes a
``foreachBatch`` driver-state trainer (same per-mini-batch semantics):
each micro-batch runs ONE aggregation job (JVM-side expressions — the
same posexplode/groupBy(pos) plans the batch estimators use), the driver
updates O(dim) state and appends a versioned model row.  Model streams
are the accumulated version table; ``attach``/``process_batch`` exposes
the harness for deterministic batch-driven tests (FIXTURES.md §8).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..api import Estimator, Model
from ..common import sqltext as S
from ..common.optimizer import dot_lit
from ..param import (FloatParam, HasDecayFactor, HasFeaturesCol,
                     HasGlobalBatchSize, HasLabelCol, HasMaxAllowedModelDelayMs,
                     HasModelVersionCol, HasPredictionCol, IntParam,
                     ParamValidators, StringParam)


class _OnlineTrainer:
    """foreachBatch harness: spark-managed micro-batches → driver state."""

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        raise NotImplementedError

    def attach(self, stream_df: DataFrame, checkpoint: str | None = None,
               query_name: str | None = None):
        """Wire onto a streaming DataFrame; returns the StreamingQuery."""
        writer = (stream_df.writeStream
                  .foreachBatch(lambda df, bid: self.process_batch(df, bid))
                  .outputMode("update"))
        if checkpoint:
            writer = writer.option("checkpointLocation", checkpoint)
        if query_name:
            writer = writer.queryName(query_name)
        return writer.start()


class OnlineStandardScaler(Estimator, HasFeaturesCol, HasModelVersionCol,
                           _OnlineTrainer):
    timeCol = StringParam("timeCol", "Event-time column (epoch millis, or a timestamp — converted).", "ts")
    windowMillis = IntParam("windowMillis",
                            "Event-time tumbling window size (None → one version per micro-batch).",
                            None)

    @staticmethod
    def _time_ms(df: DataFrame, tcol: str):
        dtype = dict((f.name, f.dataType.simpleString()) for f in df.schema.fields)[tcol]
        if dtype == "timestamp":
            return F.col(tcol).cast("double") * 1000.0
        return F.col(tcol).cast("double")

    def __init__(self, **kwargs):
        super().__init__(**kwargs)
        self._n = None   # cumulative per-dim count / sum / sumsq
        self._sum = None
        self._sumsq = None
        self._versions: list[dict] = []

    # -- streaming fit ------------------------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        fcol = self.get_("featuresCol")
        win = self.get_("windowMillis")
        tcol = self.get_("timeCol")
        if win:
            ts = self._time_ms(batch_df, tcol)
            bucket = F.floor(ts / F.lit(float(win)))
            groups = (batch_df
                      .select(bucket.alias("w"), F.posexplode(F.col(fcol)).alias("pos", "x"))
                      .groupBy("w", "pos")
                      .agg(F.count("x").alias("n"), F.sum("x").alias("s"),
                           F.sum(F.col("x") * F.col("x")).alias("ss"))
                      .collect())
            by_w: dict[int, list] = {}
            for r in groups:
                by_w.setdefault(int(r["w"]), []).append(r)
            for w in sorted(by_w):
                self._update(by_w[w])
                self._emit(version_ts=(w + 1) * win)
        else:
            rows = (batch_df.select(F.posexplode(F.col(fcol)).alias("pos", "x"))
                    .groupBy("pos")
                    .agg(F.count("x").alias("n"), F.sum("x").alias("s"),
                         F.sum(F.col("x") * F.col("x")).alias("ss"))
                    .collect())
            if rows:
                self._update(rows)
                self._emit(version_ts=batch_id)

    # -- event-time windows + watermark (late data dropped by Spark) --------
    def attach_event_time(self, stream_df: DataFrame, delay: str = "10 seconds",
                          checkpoint: str | None = None):
        """Event-time windowed fit with real late-data handling.

        The reference requires event-time windows + bounded lateness on the
        model stream (OnlineStandardScaler.java:91-95).  Spark-first: the
        stream is ``withWatermark``-ed and pre-aggregated per (window, dim)
        by Spark's STATEFUL windowed aggregation; ``append`` output emits
        each window's sums exactly once — when the watermark passes its
        end — and rows later than ``delay`` are dropped by the watermark,
        deterministically.  foreachBatch then folds the FINALIZED windows
        into the cumulative model state (one version per window, in
        window order).  Requires ``windowMillis``; ``timeCol`` may be a
        double (epoch seconds → cast) or timestamp column.
        """
        win = self.get_("windowMillis")
        if not win:
            raise ValueError("attach_event_time requires windowMillis")
        tcol = self.get_("timeCol")
        fcol = self.get_("featuresCol")
        dtype = dict((f.name, f.dataType.simpleString())
                     for f in stream_df.schema.fields)[tcol]
        ts = (F.col(tcol) if dtype == "timestamp"
              else F.col(tcol).cast("timestamp"))
        agg = (stream_df
               .withColumn("__t__", ts)
               .withWatermark("__t__", delay)
               .select("__t__", F.posexplode(F.col(fcol)).alias("pos", "x"))
               .groupBy(F.window("__t__", f"{win} milliseconds").alias("win"),
                        F.col("pos"))
               .agg(F.count("x").alias("n"), F.sum("x").alias("s"),
                    F.sum(F.col("x") * F.col("x")).alias("ss")))
        writer = (agg.writeStream
                  .foreachBatch(lambda df, bid: self._fold_windows(df, bid))
                  .outputMode("append"))
        if checkpoint:
            writer = writer.option("checkpointLocation", checkpoint)
        return writer.start()

    def _fold_windows(self, batch_df: DataFrame, batch_id: int) -> None:
        rows = (batch_df
                .select((F.col("win")["start"].cast("double") * 1000).alias("w0"),
                        "pos", "n", "s", "ss")
                .collect())
        by_w: dict[float, list] = {}
        for r in rows:
            by_w.setdefault(float(r["w0"]), []).append(r)
        win = self.get_("windowMillis")
        for w0 in sorted(by_w):
            self._update(by_w[w0])
            self._emit(version_ts=w0 + win)

    def _update(self, rows) -> None:
        dim = max(r["pos"] for r in rows) + 1
        if self._n is None:
            self._n = np.zeros(dim)
            self._sum = np.zeros(dim)
            self._sumsq = np.zeros(dim)
        for r in rows:
            self._n[r["pos"]] += r["n"]
            self._sum[r["pos"]] += r["s"]
            self._sumsq[r["pos"]] += r["ss"]

    def _emit(self, version_ts) -> None:
        n = np.maximum(self._n, 1)
        mean = self._sum / n
        var = np.maximum(self._sumsq / n - mean ** 2, 0.0)
        # unbiased correction where n > 1 (reference uses unbiased std)
        corr = np.where(self._n > 1, self._n / np.maximum(self._n - 1, 1), 1.0)
        std = np.sqrt(var * corr)
        self._versions.append({
            "version": len(self._versions),
            "timestamp": version_ts,
            "mean": mean.tolist(),
            "std": std.tolist(),
        })

    def latest_model(self) -> "OnlineStandardScalerModel":
        model = OnlineStandardScalerModel()
        model.set_(featuresCol=self.get_("featuresCol"),
                   modelVersionCol=self.get_("modelVersionCol"))
        model.model_data = {"versions": self._versions}
        return model

    def model_stream(self, spark) -> DataFrame:
        import pandas as pd
        return spark.createDataFrame(pd.DataFrame(self._versions))


_VERSION_CHAIN_MAX = 64


class OnlineStandardScalerModel(Model, HasFeaturesCol, HasModelVersionCol,
                                HasMaxAllowedModelDelayMs):
    outputCol = StringParam("outputCol", "Scaled output column.", "output")
    timeCol = StringParam("timeCol", "Event-time column of the data.", None)

    def _transform(self, df: DataFrame) -> DataFrame:
        versions = self.model_data["versions"]
        if not versions:
            raise ValueError("no model versions trained yet")
        tcol = self.get_("timeCol")
        out_col = self.get_("outputCol")
        vcol = self.get_("modelVersionCol")
        if tcol is None:
            # latest model for the whole batch
            v = versions[-1]
            scaled = self._scale_expr(v)
            out = df.withColumn(out_col, scaled)
            return out.withColumn(vcol, F.lit(v["version"])) if vcol else out
        # as-of: max version with model ts ≤ data ts + delay (mirrors
        # OnlineStandardScalerModel.java:128-160).  Short histories inline
        # as a CASE chain (no join/shuffle); past _VERSION_CHAIN_MAX the
        # plan size would grow with stream lifetime, so it switches to a
        # broadcast as-of join against the version table.
        if len(versions) > _VERSION_CHAIN_MAX:
            return self._asof_join_transform(df, versions, tcol, out_col, vcol)
        delay = self.get_("maxAllowedModelDelayMs")
        ts = OnlineStandardScaler._time_ms(df, tcol)
        ver = F.lit(None).cast("int")
        for v in versions:  # later versions override earlier ones
            ver = F.when(ts + F.lit(float(delay)) >= F.lit(float(v["timestamp"])),
                         F.lit(v["version"])).otherwise(ver)
        out_exprs = F.lit(None).cast("array<double>")
        for v in versions:
            out_exprs = F.when(ver == v["version"], self._scale_expr(v)) \
                .otherwise(out_exprs)
        out = df.withColumn(out_col, out_exprs)
        if vcol:
            out = out.withColumn(vcol, ver)
        return out

    def _asof_join_transform(self, df: DataFrame, versions, tcol: str,
                             out_col: str, vcol: str | None) -> DataFrame:
        """Broadcast as-of join: data × version table (range predicate) →
        max matching version per row → scale with the joined (mean, std).
        O(1) plan size regardless of history length; the version table is
        O(versions × dim) — broadcastable model state, like the CASE chain
        it replaces."""
        from ..common.dataflow import top_k_per_key
        spark = df.sparkSession
        delay = float(self.get_("maxAllowedModelDelayMs"))
        vdf = spark.createDataFrame(
            [(int(v["version"]), float(v["timestamp"]),
              [float(x) for x in v["mean"]],
              [float(s) if s != 0 else 1.0 for s in v["std"]])
             for v in versions],
            "__ver__ int, __vts__ double, __mean__ array<double>, __std__ array<double>")
        ts = OnlineStandardScaler._time_ms(df, tcol)
        d = df.withColumn("__rid__", F.monotonically_increasing_id()) \
              .withColumn("__ts__", ts)
        j = d.join(F.broadcast(vdf),
                   F.col("__ts__") + F.lit(delay) >= F.col("__vts__"), "left")
        # versions are unique, and a null version is a row's only match
        best = top_k_per_key(j, ["__rid__"], [F.desc_nulls_last("__ver__")], 1)
        fcol = F.col(self.get_("featuresCol"))
        centered = F.zip_with(fcol, F.col("__mean__"), lambda x, m: x - m)
        scaled = F.when(
            F.col("__ver__").isNotNull(),
            F.zip_with(centered, F.col("__std__"), lambda x, s: x / s))
        out = best.withColumn(out_col, scaled)
        if vcol:
            out = out.withColumn(vcol, F.col("__ver__"))
        return out.drop("__rid__", "__ts__", "__ver__", "__vts__",
                        "__mean__", "__std__")

    def _scale_expr(self, v):
        mean = v["mean"]
        std = v["std"]
        fcol = F.col(self.get_("featuresCol"))
        m_arr = F.array(*[F.lit(float(x)) for x in mean])
        s_arr = F.array(*[F.lit(float(x) if x != 0 else 1.0) for x in std])
        centered = F.zip_with(fcol, m_arr, lambda x, m: x - m)
        return F.zip_with(centered, s_arr, lambda x, s: x / s)


class OnlineKMeans(Estimator, HasFeaturesCol, HasPredictionCol, HasDecayFactor,
                   HasGlobalBatchSize, _OnlineTrainer):
    k = IntParam("k", "Number of clusters.", 2, ParamValidators.gt(1))

    def __init__(self, **kwargs):
        super().__init__(**kwargs)
        self._centers: np.ndarray | None = None
        self._weights: np.ndarray | None = None
        self._versions: list[dict] = []

    def set_initial_model(self, centers) -> "OnlineKMeans":
        self._centers = np.asarray(centers, dtype=float)
        self._weights = np.zeros(len(self._centers))
        return self

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Mini-batch update with decay (OnlineKMeans.java:95-180):
        c' = (decay·w·c + batch_sum) / (decay·w + batch_n)."""
        from ..common.distance import closest_centroid_expr
        fcol = self.get_("featuresCol")
        if self._centers is None:
            rows = batch_df.select(fcol).distinct().limit(self.get_("k")).collect()
            if len(rows) < self.get_("k"):
                return
            self.set_initial_model([list(r[0]) for r in rows])
        cid = closest_centroid_expr(F.col(fcol), self._centers, "euclidean")
        rows = (batch_df.select(cid.alias("c"), F.posexplode(F.col(fcol)).alias("pos", "x"))
                .groupBy("c", "pos")
                .agg(F.sum("x").alias("s"),
                     F.sum(F.when(F.col("pos") == 0, 1).otherwise(0)).alias("n"))
                .collect())
        sums = np.zeros_like(self._centers)
        counts = np.zeros(len(self._centers))
        for r in rows:
            sums[r["c"], r["pos"]] = r["s"]
            counts[r["c"]] += r["n"]
        decay = self.get_("decayFactor")
        w_old = self._weights * decay
        denom = np.maximum(w_old + counts, 1e-300)
        self._centers = (w_old[:, None] * self._centers + sums) / denom[:, None]
        self._weights = w_old + counts
        self._versions.append({"version": len(self._versions),
                               "centroids": self._centers.tolist()})

    def latest_model(self):
        from ..clustering import KMeansModel
        model = KMeansModel()
        model.set_(featuresCol=self.get_("featuresCol"),
                   predictionCol=self.get_("predictionCol"),
                   distanceMeasure="euclidean")
        model.model_data = {"centroids": self._centers.tolist()}
        return model


class OnlineLogisticRegression(Estimator, HasFeaturesCol, HasLabelCol,
                               HasGlobalBatchSize, _OnlineTrainer):
    """FTRL-Proximal online LR (McMahan et al. 2013, public algorithm;
    reference OnlineLogisticRegression.java:265-330)."""

    alpha = FloatParam("alpha", "FTRL alpha.", 0.1, ParamValidators.gt(0))
    betaP = FloatParam("beta", "FTRL beta.", 0.1, ParamValidators.gt_eq(0))
    l1 = FloatParam("l1", "L1 regularization.", 0.1, ParamValidators.gt_eq(0))
    l2 = FloatParam("l2", "L2 regularization.", 0.1, ParamValidators.gt_eq(0))

    def __init__(self, **kwargs):
        super().__init__(**kwargs)
        self._z: np.ndarray | None = None
        self._n: np.ndarray | None = None
        self._versions: list[dict] = []

    def weights(self) -> np.ndarray:
        a, b = self.get_("alpha"), self.get_("beta")
        l1, l2 = self.get_("l1"), self.get_("l2")
        z, n = self._z, self._n
        w = np.zeros_like(z)
        mask = np.abs(z) > l1
        denom = (b + np.sqrt(n)) / a + l2
        w[mask] = -(z[mask] - np.sign(z[mask]) * l1) / denom[mask]
        return w

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        fcol, lcol = self.get_("featuresCol"), self.get_("labelCol")
        first = batch_df.select(fcol).first()
        if first is None:
            return
        dim = len(first[0])
        if self._z is None:
            self._z = np.zeros(dim)
            self._n = np.zeros(dim)
        w = self.weights()
        margin = F.expr(dot_lit(S.name(fcol), w))
        resid = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)) - F.col(lcol).cast("double")
        rows = (batch_df.select(resid.alias("r"), F.posexplode(F.col(fcol)).alias("pos", "x"))
                .groupBy("pos")
                .agg(F.sum(F.col("r") * F.col("x")).alias("g"),
                     F.sum(F.col("r") * F.col("r") * F.col("x") * F.col("x")).alias("g2"),
                     F.count("*").alias("cnt"))
                .collect())
        rows.sort(key=lambda r: r["pos"])
        g = np.array([r["g"] for r in rows]) / max(rows[0]["cnt"], 1)
        g2 = np.array([r["g2"] for r in rows]) / max(rows[0]["cnt"], 1)
        a = self.get_("alpha")
        sigma = (np.sqrt(self._n + g2) - np.sqrt(self._n)) / a
        self._z += g - sigma * self.weights()
        self._n += g2
        self._versions.append({"version": len(self._versions),
                               "coefficient": self.weights().tolist()})

    def latest_model(self):
        from ..classification import LogisticRegressionModel
        model = LogisticRegressionModel()
        model.set_(featuresCol=self.get_("featuresCol"))
        model.model_data = {"coefficient": self.weights().tolist()}
        return model
