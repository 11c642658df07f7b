"""Online/streaming-semantics queries vs DuckDB oracles.

The online estimators are driven in deterministic batch mode (the same
``process_batch`` contract foreachBatch uses), so their window-cumulative
model versions are a pure function of the data — the oracle recomputes
them relationally (cumulative window aggregates + as-of version pick).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from . import SQL_Q4, load_events, q4
from .llmdata_queries import HLL_REGISTERS_SQL as _HLL_SQL

DAY_MS = 86400000


def online_standard_scaler(spark, sf_dir):
    """Event-time daily windows over events.value: one model version per
    day (history-cumulative mean/std), then versioned as-of inference on
    the same stream (OnlineStandardScaler + Model semantics)."""
    from ..streaming import OnlineStandardScaler
    events = load_events(spark, sf_dir)
    data = events.select("event_id", F.col("ts_ms").alias("ts"),
                         F.array(F.col("value")).alias("features"))
    scaler = OnlineStandardScaler(featuresCol="features", timeCol="ts",
                                  windowMillis=DAY_MS)
    scaler.process_batch(data, 0)
    model = scaler.latest_model()
    model.set_(maxAllowedModelDelayMs=0, modelVersionCol="ver")
    model.set(type(model).timeCol, "ts")
    out = model.transform(data)[0]
    return out.select("event_id", "ver",
                      q4(F.element_at("output", 1)).alias("scaled"))


ONLINE_SCALER_SQL = f"""
WITH base AS (
  SELECT event_id, epoch_ms(ts) AS ts_ms, value FROM events),
per_w AS (
  SELECT CAST(floor(ts_ms / {DAY_MS}) AS BIGINT) w,
         CAST(count(*) AS DOUBLE) n, sum(value) s, sum(value * value) ss
  FROM base GROUP BY 1),
cum AS (
  SELECT w, row_number() OVER (ORDER BY w) - 1 AS version,
         (w + 1) * {DAY_MS} AS model_ts,
         sum(n) OVER (ORDER BY w ROWS UNBOUNDED PRECEDING) cn,
         sum(s) OVER (ORDER BY w ROWS UNBOUNDED PRECEDING) cs,
         sum(ss) OVER (ORDER BY w ROWS UNBOUNDED PRECEDING) css
  FROM per_w),
models AS (
  SELECT version, model_ts, cs / cn AS mean,
         sqrt(greatest(css / cn - (cs / cn) * (cs / cn), 0)
              * (CASE WHEN cn > 1 THEN cn / (cn - 1) ELSE 1 END)) AS std
  FROM cum),
picked AS (
  SELECT b.event_id, b.ts_ms, b.value,
         max(m.version) AS ver
  FROM base b LEFT JOIN models m ON m.model_ts <= b.ts_ms
  GROUP BY b.event_id, b.ts_ms, b.value)
SELECT p.event_id, CAST(p.ver AS INT) AS ver,
       {SQL_Q4.format('(p.value - m.mean) / (CASE WHEN m.std = 0 THEN 1.0 ELSE m.std END)')} AS scaled
FROM picked p LEFT JOIN models m ON m.version = p.ver
"""


def online_scaler_delayed(spark, sf_dir):
    """Versioned as-of inference with a NONZERO model-delay allowance:
    each row may use the newest model whose timestamp is within
    maxAllowedModelDelayMs AFTER the row (HasMaxAllowedModelDelayMs /
    OnlineStandardScalerModel.java:128-160 semantics)."""
    from ..streaming import OnlineStandardScaler
    events = load_events(spark, sf_dir)
    data = events.select("event_id", F.col("ts_ms").alias("ts"),
                         F.array(F.col("value")).alias("features"))
    scaler = OnlineStandardScaler(featuresCol="features", timeCol="ts",
                                  windowMillis=DAY_MS)
    scaler.process_batch(data, 0)
    model = scaler.latest_model()
    model.set_(maxAllowedModelDelayMs=DAY_MS, modelVersionCol="ver")
    model.set(type(model).timeCol, "ts")
    out = model.transform(data)[0]
    return out.select("event_id", "ver",
                      q4(F.element_at("output", 1)).alias("scaled"))


ONLINE_SCALER_DELAYED_SQL = f"""
WITH base AS (
  SELECT event_id, epoch_ms(ts) AS ts_ms, value FROM events),
per_w AS (
  SELECT CAST(floor(ts_ms / {DAY_MS}) AS BIGINT) w,
         CAST(count(*) AS DOUBLE) n, sum(value) s, sum(value * value) ss
  FROM base GROUP BY 1),
cum AS (
  SELECT w, row_number() OVER (ORDER BY w) - 1 AS version,
         (w + 1) * {DAY_MS} AS model_ts,
         sum(n) OVER (ORDER BY w ROWS UNBOUNDED PRECEDING) cn,
         sum(s) OVER (ORDER BY w ROWS UNBOUNDED PRECEDING) cs,
         sum(ss) OVER (ORDER BY w ROWS UNBOUNDED PRECEDING) css
  FROM per_w),
models AS (
  SELECT version, model_ts, cs / cn AS mean,
         sqrt(greatest(css / cn - (cs / cn) * (cs / cn), 0)
              * (CASE WHEN cn > 1 THEN cn / (cn - 1) ELSE 1 END)) AS std
  FROM cum),
picked AS (
  SELECT b.event_id, b.ts_ms, b.value, max(m.version) AS ver
  FROM base b LEFT JOIN models m ON m.model_ts <= b.ts_ms + {DAY_MS}
  GROUP BY b.event_id, b.ts_ms, b.value)
SELECT p.event_id, CAST(p.ver AS INT) AS ver,
       {{q4}} AS scaled
FROM picked p LEFT JOIN models m ON m.version = p.ver
""".replace("{q4}", SQL_Q4.format(
    "(p.value - m.mean) / (CASE WHEN m.std = 0 THEN 1.0 ELSE m.std END)"))


def online_kmeans(spark, sf_dir):
    """Mini-batch k-means over events (value, hour-of-day) in 10 ordered
    event-time batches with decay 0.9; the decay recurrence is replayed
    exactly by the DuckDB oracle (fixed init, day-of-month batches)."""
    from ..streaming import OnlineKMeans
    events = load_events(spark, sf_dir).orderBy("ts_ms")
    data = events.select(
        "event_id", "ts_t",
        F.array(F.col("value"),
                (F.hour("ts_t").cast("double") / 24.0)).alias("features"))
    km = OnlineKMeans(featuresCol="features", k=3, decayFactor=0.9)
    km.set_initial_model([[0.0, 0.0], [1.0, 0.5], [2.0, 1.0]])
    days = data.withColumn("day", F.dayofmonth("ts_t"))
    for d in range(1, 11):
        km.process_batch(days.filter(F.col("day") == d).drop("day"), d)
    model = km.latest_model()
    return model.transform(data)[0].select("event_id", F.col("prediction").alias("cluster"))


def _online_kmeans_sql(k: int = 3, batches: int = 10,
                       decay: float = 0.9) -> str:
    """DuckDB replay of the mini-batch decay recurrence
    c' = (decay*w*c + batch_sum) / max(decay*w + batch_n, 1e-300)
    over the same 10 day-of-month batches, with the same fixed initial
    model and lowest-cid tie-breaking; final assignment uses the last
    centroids (OnlineKMeans.process_batch)."""
    init = [[0.0, 0.0], [1.0, 0.5], [2.0, 1.0]]
    dim = 2
    init_rows = " UNION ALL ".join(
        f"SELECT {c} AS cid, " + ", ".join(
            f"CAST({init[c][j]} AS DOUBLE) AS m{j}" for j in range(dim))
        + ", CAST(0 AS DOUBLE) AS w" for c in range(k))
    dist = " + ".join(f"(p.f{j} - c.m{j}) * (p.f{j} - c.m{j})"
                      for j in range(dim))
    flist = ", ".join(f"f{j}" for j in range(dim))
    parts = [
        "WITH pts AS MATERIALIZED (SELECT event_id, "
        "CAST(value AS DOUBLE) AS f0, "
        "CAST((epoch_ms(ts) // 3600000) % 24 AS DOUBLE) / 24.0 AS f1, "
        "day(make_timestamp(epoch_ms(ts) * 1000)) AS d FROM events)",
        f"c0 AS MATERIALIZED ({init_rows})",
    ]
    for b in range(1, batches + 1):
        parts.append(
            f"a{b} AS MATERIALIZED (SELECT event_id, {flist}, cid FROM ("
            f"SELECT p.*, c.cid, row_number() OVER (PARTITION BY p.event_id "
            f"ORDER BY {dist}, c.cid) AS __rn "
            f"FROM pts p CROSS JOIN c{b - 1} c WHERE p.d = {b}) "
            f"WHERE __rn = 1)")
        sums = ", ".join(f"sum(f{j}) AS s{j}" for j in range(dim))
        upd = ", ".join(
            f"(c.w * {decay} * c.m{j} + COALESCE(s.s{j}, 0)) / "
            f"greatest(c.w * {decay} + COALESCE(s.n, 0), 1e-300) AS m{j}"
            for j in range(dim))
        parts.append(
            f"c{b} AS MATERIALIZED (SELECT c.cid, {upd}, "
            f"c.w * {decay} + COALESCE(s.n, 0) AS w FROM c{b - 1} c "
            f"LEFT JOIN (SELECT cid, count(*) AS n, {sums} FROM a{b} "
            f"GROUP BY cid) s ON s.cid = c.cid)")
    parts.append(
        f"final AS (SELECT event_id, cid AS cluster FROM ("
        f"SELECT p.event_id, c.cid, row_number() OVER (PARTITION BY "
        f"p.event_id ORDER BY {dist}, c.cid) AS __rn "
        f"FROM pts p CROSS JOIN c{batches} c) WHERE __rn = 1)")
    return ", ".join(parts) + " SELECT event_id, cluster FROM final"


ONLINE_KMEANS_SQL = _online_kmeans_sql()


def online_logistic_regression(spark, sf_dir):
    """FTRL over an events-derived click-ish label — iterative driver
    state → rows-only check (weights sanity-tested in unit tests)."""
    from ..streaming import OnlineLogisticRegression
    events = load_events(spark, sf_dir).orderBy("ts_ms")
    data = events.select(
        "event_id",
        F.array((F.col("value") / 10.0), F.lit(1.0)).alias("features"),
        F.when(F.col("event_type") == "click", 1.0).otherwise(0.0).alias("label"),
        F.dayofmonth("ts_t").alias("day"))
    ftrl = OnlineLogisticRegression(featuresCol="features", labelCol="label",
                                    alpha=0.5, l1=0.001, l2=0.001)
    for d in range(1, 11):
        ftrl.process_batch(data.filter(F.col("day") == d), d)
    model = ftrl.latest_model()
    out = model.transform(data)[0]
    return out.select("event_id", q4(F.element_at("rawPrediction", 2)).alias("prob"))


def _ftrl_sql() -> str:
    """Recursive-CTE replay of OnlineLogisticRegression.process_batch
    (streaming/online.py): per day-batch d —
      w_j  = 0 if |z_j| <= l1 else -(z_j - sign(z_j)l1)/((β+√n_j)/α + l2)
      r    = σ(x·w) - y           (over batch d)
      g_j  = Σ r·x_j / cnt ;  g2_j = Σ r²·x_j² / cnt
      z_j += g_j - ((√(n_j+g2_j) - √n_j)/α)·w_j ;  n_j += g2_j
    FTRL is a smooth recurrence (like the GD oracles), so float noise
    stays below the q4 quantization."""
    alpha, beta, l1, l2 = 0.5, 0.1, 0.001, 0.001
    xs = ["value / 10.0", "1.0"]

    def w(j: str) -> str:
        z, n = f"z{j}", f"n{j}"
        return (f"(CASE WHEN abs({z}) > {l1} THEN "
                f"-({z} - sign({z}) * {l1}) / (({beta} + sqrt({n})) / {alpha} + {l2}) "
                f"ELSE 0.0 END)")

    margin = " + ".join(f"{w(j)} * x{j}" for j in range(2))
    resid = f"(1.0 / (1.0 + exp(-({margin}))) - y)"
    cnt = "(SELECT greatest(count(*), 1) FROM data WHERE day = it.d + 1)"
    steps = []
    for j in range(2):
        g = (f"((SELECT sum({resid} * x{j}) FROM data WHERE day = it.d + 1)"
             f" / {cnt})")
        g2 = (f"((SELECT sum({resid} * {resid} * x{j} * x{j}) FROM data "
              f"WHERE day = it.d + 1) / {cnt})")
        sigma = f"((sqrt(n{j} + {g2}) - sqrt(n{j})) / {alpha})"
        steps.append(f"z{j} + {g} - {sigma} * {w(j)}")
    for j in range(2):
        g2 = (f"((SELECT sum({resid} * {resid} * x{j} * x{j}) FROM data "
              f"WHERE day = it.d + 1) / {cnt})")
        steps.append(f"n{j} + {g2}")
    final_margin = " + ".join(f"{w(j)} * x{j}" for j in range(2))
    return f"""
WITH RECURSIVE data AS (
  SELECT event_id, {xs[0]} AS x0, {xs[1]} AS x1,
         CASE WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END AS y,
         day(ts) AS day
  FROM events),
it(d, z0, z1, n0, n1) AS (
  SELECT 0, CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
         CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)
  UNION ALL
  SELECT it.d + 1, {steps[0]}, {steps[1]}, {steps[2]}, {steps[3]}
  FROM it WHERE it.d < 10),
fin AS (SELECT z0, z1, n0, n1 FROM it ORDER BY d DESC LIMIT 1)
SELECT event_id,
       {SQL_Q4.format(f'1.0 / (1.0 + exp(-({final_margin})))')} AS prob
FROM data, fin
"""


ONLINE_FTRL_SQL = _ftrl_sql()


def event_windows(spark, sf_dir):
    """Driver-green coverage for the Windows strategies (SURVEY §2.10):
    event-time tumbling windows through window_all_and_process."""
    from ..common.dataflow import window_all_and_process
    from ..streaming.windows import Windows
    events = load_events(spark, sf_dir)
    out = window_all_and_process(
        events.select(F.col("ts_t").alias("ts"), "value"),
        Windows.event_time_tumbling(3600_000), "ts",
        F.count("*").alias("n"), q4(F.sum("value")).alias("sum_value"))
    return out.select(F.unix_millis("window_start").alias("w_start"),
                      "n", "sum_value")


EVENT_WINDOWS_SQL = f"""
WITH base AS (SELECT epoch_ms(ts) AS ts_ms, value FROM events)
SELECT CAST(floor(ts_ms / 3600000) AS BIGINT) * 3600000 AS w_start,
       count(*) AS n, {SQL_Q4.format('sum(value)')} AS sum_value
FROM base GROUP BY 1
"""


def session_windows(spark, sf_dir):
    """Per-user event-time session windows (gap = 10 min of silence),
    Windows.event_time_session semantics via F.session_window."""
    events = load_events(spark, sf_dir)
    return (events
            .groupBy("user_id",
                     F.session_window(F.col("ts_t"), "10 minutes").alias("w"))
            .agg(F.count("*").alias("n_events"),
                 q4(F.sum("value")).alias("sum_value"))
            .select("user_id",
                    F.unix_millis(F.col("w")["start"]).alias("s_start"),
                    "n_events", "sum_value"))


SESSION_WINDOWS_SQL = f"""
WITH base AS (SELECT user_id, epoch_ms(ts) AS ts_ms, value FROM events),
flagged AS (
  SELECT *, CASE WHEN lag(ts_ms) OVER w IS NULL
                   OR ts_ms - lag(ts_ms) OVER w >= 600000
                 THEN 1 ELSE 0 END AS new_s
  FROM base WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms)),
sess AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_ms
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged)
SELECT user_id, min(ts_ms) AS s_start, count(*) AS n_events,
       {SQL_Q4.format('sum(value)')} AS sum_value
FROM sess GROUP BY user_id, sid
"""


def stateful_sessions(spark, sf_dir):
    """TRUE Structured-Streaming sessionization: the events table replayed
    through readStream in two micro-batches into
    ``StatefulSessionizer`` (applyInPandasWithState, per-key GroupState,
    event-time timeout).  Batch 2 appends one far-future sentinel event
    per user, so every real session closes via the gap logic and emits
    deterministically; sentinel sessions stay open in state and are
    never emitted.  Output = closed sessions, identical semantics (and
    oracle) to the batch ``session_windows`` query."""
    import os
    import shutil
    import tempfile
    import uuid

    from ..streaming import StatefulSessionizer
    events = load_events(spark, sf_dir)
    data = events.select("user_id", "ts_ms", "value", "ts_t")
    sentinel_base = data.agg(F.max("ts_ms")).first()[0] + 100 * 600_000
    # Per-user sentinel rows (kept after an r10 A/B): a single
    # watermark-advancing row with timeout-path flushing in the no-data
    # micro-batch was tried and REGRESSED ~2x (min2 13.3s vs ~6.5s) —
    # the engine walks timed-out keys through per-key pandas calls,
    # while the gap-close rows ride the vectorized grouped data path.
    sentinels = (data.select("user_id").distinct()
                 .select("user_id", F.lit(sentinel_base).alias("ts_ms"),
                         F.lit(0.0).alias("value"))
                 .withColumn("ts_t", F.timestamp_millis(F.col("ts_ms"))))
    tmp = tempfile.mkdtemp(prefix="stateful_sessions_")
    view = f"stateful_sessions_{uuid.uuid4().hex[:8]}"
    q = None
    # state-store partition count = the streaming shuffle partitions;
    # there are only ~150 session keys, and every extra partition is a
    # per-micro-batch checkpoint dir + provider instance (measured 2x
    # wall at 32).  In production you size this to keyed-state volume.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        os.mkdir(os.path.join(tmp, "in"))
        # two files -> two micro-batches (maxFilesPerTrigger=1); mtimes
        # force the replay order data-then-sentinel
        data.coalesce(1).write.parquet(os.path.join(tmp, "b0"))
        sentinels.coalesce(1).write.parquet(os.path.join(tmp, "b1"))
        for i, d in enumerate(("b0", "b1")):
            src = [f for f in os.listdir(os.path.join(tmp, d))
                   if f.endswith(".parquet")][0]
            dst = os.path.join(tmp, "in", f"batch{i}.parquet")
            shutil.copy(os.path.join(tmp, d, src), dst)
            os.utime(dst, (1_000_000_000 + i * 1000,) * 2)
        stream = (spark.readStream.schema(data.schema)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(os.path.join(tmp, "in")))
        sessions = StatefulSessionizer(key_col="user_id", ts_col="ts_ms",
                                       value_col="value", gap_ms=600_000,
                                       watermark_col="ts_t").apply(stream)
        q = (sessions.writeStream.format("memory").queryName(view)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(300)
        # the memory sink holds the rows in-session; safe to drop tmp
        return (spark.table(view)
                .filter(F.col("s_start") < sentinel_base)
                .select("user_id", "s_start", "n_events",
                        q4(F.col("sum_value")).alias("sum_value")))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if q is not None and q.isActive:
            q.stop()
        shutil.rmtree(tmp, ignore_errors=True)


STATEFUL_SESSIONS_SQL = SESSION_WINDOWS_SQL


def sliding_windows(spark, sf_dir):
    """Sliding (hopping) event-time windows — 6 h windows hopping every
    2 h, so each event lands in 3 overlapping windows; Windows.
    event_time_sliding through window_all_and_process → native
    ``F.window(size, slide)``."""
    from ..common.dataflow import window_all_and_process
    from ..streaming.windows import Windows
    events = load_events(spark, sf_dir)
    out = window_all_and_process(
        events.select(F.col("ts_t").alias("ts"), "value"),
        Windows.event_time_sliding(21_600_000, 7_200_000), "ts",
        F.count("*").alias("n"), q4(F.sum("value")).alias("sum_value"))
    return out.select(F.unix_millis("window_start").alias("w_start"),
                      "n", "sum_value")


SLIDING_WINDOWS_SQL = f"""
WITH base AS (SELECT epoch_ms(ts) AS ts_ms, value FROM events)
SELECT g AS w_start, count(*) AS n, {SQL_Q4.format('sum(value)')} AS sum_value
FROM base,
     unnest(generate_series((ts_ms // 7200000) * 7200000 - 14400000,
                            (ts_ms // 7200000) * 7200000,
                            7200000)) AS t(g)
GROUP BY 1
"""


def streaming_dedup(spark, sf_dir):
    """TRUE streaming exact dedup: the documents table replayed through
    readStream in two micro-batches into ``StreamingExactDeduplicator``
    (withWatermark + dropDuplicatesWithinWatermark, 32-byte digest
    state), cross-batch duplicates dropped by executor-partitioned
    state.  Deterministic output = the distinct content digests."""
    import os
    import shutil
    import tempfile
    import uuid

    from . import load
    from ..streaming import StreamingExactDeduplicator
    docs = load(spark, sf_dir, "documents")
    base = 1_700_000_000_000
    data = docs.select(
        "doc_id", "text",
        F.timestamp_millis(F.lit(base) + F.col("doc_id")).alias("ts_t"))
    tmp = tempfile.mkdtemp(prefix="streaming_dedup_")
    view = f"streaming_dedup_{uuid.uuid4().hex[:8]}"
    q = None
    # size dedup-state partitions to the key volume (see stateful_sessions)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        os.mkdir(os.path.join(tmp, "in"))
        # batch 1 = the corpus; batch 2 = 20% of it re-sent under fresh
        # doc_ids/timestamps — real cross-batch duplicates the state must
        # drop (the corpus's own texts are unique at these SFs)
        dupes = (data.where(F.col("doc_id") % 5 == 0)
                 .withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000))
                 .withColumn("ts_t", F.timestamp_millis(
                     F.lit(base + 60_000) + F.col("doc_id") % 10_000_000)))
        halves = [data, dupes]
        for i, h in enumerate(halves):
            h.coalesce(1).write.parquet(os.path.join(tmp, f"b{i}"))
            src = [f for f in os.listdir(os.path.join(tmp, f"b{i}"))
                   if f.endswith(".parquet")][0]
            dst = os.path.join(tmp, "in", f"batch{i}.parquet")
            shutil.copy(os.path.join(tmp, f"b{i}", src), dst)
            os.utime(dst, (1_000_000_000 + i * 1000,) * 2)
        stream = (spark.readStream.schema(data.schema)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(os.path.join(tmp, "in")))
        dd = StreamingExactDeduplicator(["text"], watermark_col="ts_t",
                                        watermark_delay="10 minutes")
        out = dd.apply(stream).select("content_sha")
        q = (out.writeStream.format("memory").queryName(view)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(300)
        return spark.table(view).distinct()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if q is not None and q.isActive:
            q.stop()
        shutil.rmtree(tmp, ignore_errors=True)


STREAMING_DEDUP_SQL = """
SELECT DISTINCT sha256(text) AS content_sha FROM documents
"""


def streaming_incremental_dedup(spark, sf_dir):
    """Streaming NEAR-dup dedup: documents replayed through readStream in
    two micro-batches (historical corpus, then the daily increment) into
    ``StreamingIncrementalDeduplicator`` — each batch band-joins against
    the accumulated signature store (executor-held localCheckpoint state)
    and folds its survivors in via foreachBatch.  Batch 1 seeds an empty
    store, so the matches are exactly the batch-2-vs-batch-1 pairs of the
    batch ``incremental_dedup`` query — the oracle is shared."""
    import os
    import shutil
    import tempfile

    from . import load
    from ..streaming import StreamingIncrementalDeduplicator
    from .llmdata_queries import N_HASHES, SEED

    docs = load(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="streaming_incr_")
    q = None
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        os.mkdir(os.path.join(tmp, "in"))
        halves = [docs.where(F.col("doc_id") % 5 != 0).select("doc_id", "text"),
                  docs.where(F.col("doc_id") % 5 == 0).select("doc_id", "text")]
        for i, h in enumerate(halves):
            h.coalesce(1).write.parquet(os.path.join(tmp, f"b{i}"))
            src = [f for f in os.listdir(os.path.join(tmp, f"b{i}"))
                   if f.endswith(".parquet")][0]
            dst = os.path.join(tmp, "in", f"batch{i}.parquet")
            shutil.copy(os.path.join(tmp, f"b{i}", src), dst)
            os.utime(dst, (1_000_000_000 + i * 1000,) * 2)
        schema = halves[0].schema
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(os.path.join(tmp, "in")))
        dd = StreamingIncrementalDeduplicator(
            id_col="doc_id", text_col="text", shingle_size=3,
            num_hashes=N_HASHES, band_size=4, threshold=0.5, seed=SEED)
        rows: list[tuple] = []
        q = (stream.writeStream
             .foreachBatch(dd.foreach_batch(
                 lambda m, _bid: rows.extend(
                     (r["id"], r["match_id"], r["est_jaccard"])
                     for r in m.collect())))
             .trigger(availableNow=True)
             .option("checkpointLocation", os.path.join(tmp, "ckpt"))
             .start())
        q.awaitTermination(300)
        out = spark.createDataFrame(
            rows, "id long, match_id long, est_jaccard double")
        return out.select("id", "match_id",
                          q4(F.col("est_jaccard")).alias("est_jaccard"))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if q is not None and q.isActive:
            q.stop()
        shutil.rmtree(tmp, ignore_errors=True)


def _streaming_incremental_sql() -> str:
    from .llmdata_queries import INCREMENTAL_DEDUP_SQL
    return INCREMENTAL_DEDUP_SQL


def asof_join_events(spark, sf_dir):
    """Point-in-time enrichment — every purchase annotated with the
    user's most recent prior (inclusive) view: ``common.temporal.
    asof_join``, the union-tag + single-shuffle formulation.  Oracle is
    DuckDB's native ASOF JOIN."""
    from ..common.temporal import asof_join
    events = load_events(spark, sf_dir)
    purchases = (events.where(F.col("event_type") == "purchase")
                 .select("event_id", "user_id", "ts_ms"))
    views = (events.where(F.col("event_type") == "view")
             .select("user_id", F.col("ts_ms").alias("view_ms"),
                     F.col("value").alias("view_value")))
    out = asof_join(purchases, views, on="user_id", left_time="ts_ms",
                    right_time="view_ms", direction="backward")
    return out.select("event_id", "user_id", "ts_ms",
                      F.col("view_ms_right").alias("last_view_ms"),
                      q4(F.col("view_value")).alias("view_value_q4"))


ASOF_JOIN_SQL = f"""
WITH p AS (SELECT event_id, user_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms
           FROM events WHERE event_type = 'purchase'),
     v AS (SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS view_ms, value
           FROM events WHERE event_type = 'view')
SELECT p.event_id, p.user_id, p.ts_ms,
       v.view_ms AS last_view_ms,
       {SQL_Q4.format('v.value')} AS view_value_q4
FROM p ASOF LEFT JOIN v
  ON p.user_id = v.user_id AND p.ts_ms >= v.view_ms
"""


def range_join_events(spark, sf_dir):
    """Interval containment without a nested-loop join — clicks landing
    inside the 6 hours after each purchase by the same user, via
    ``common.temporal.range_join`` (bucketized equi-join + residual
    filter), aggregated per purchase."""
    from ..common.temporal import range_join
    events = load_events(spark, sf_dir)
    clicks = (events.where(F.col("event_type") == "click")
              .select("user_id", F.col("ts_ms").alias("click_ms"),
                      F.col("value").alias("click_value")))
    windows = (events.where(F.col("event_type") == "purchase")
               .select(F.col("event_id").alias("purchase_id"),
                       F.col("user_id").alias("user_id"),
                       F.col("ts_ms").alias("w_start"),
                       (F.col("ts_ms") + F.lit(21_600_000)).alias("w_end")))
    pairs = range_join(clicks, windows, "click_ms", "w_start", "w_end",
                       on=["user_id"], bucket_width=21_600_000)
    return (pairs.groupBy("purchase_id")
            .agg(F.count("*").alias("n_clicks"),
                 q4(F.sum("click_value")).alias("click_value_q4")))


RANGE_JOIN_SQL = f"""
WITH c AS (SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS click_ms, value
           FROM events WHERE event_type = 'click'),
     p AS (SELECT event_id AS purchase_id, user_id,
                  CAST(epoch_ms(ts) AS BIGINT) AS w_start
           FROM events WHERE event_type = 'purchase')
SELECT p.purchase_id, count(*) AS n_clicks,
       {SQL_Q4.format('sum(c.value)')} AS click_value_q4
FROM c JOIN p ON c.user_id = p.user_id
              AND c.click_ms BETWEEN p.w_start AND p.w_start + 21600000
GROUP BY p.purchase_id
"""


def streaming_drift(spark, sf_dir):
    """Per-micro-batch corpus-drift gate: a reference token histogram is
    fitted on the full documents table, then three micro-batches replay
    through readStream → foreachBatch(StreamingDriftMonitor) — batches
    0/1 are id-hash slices of the same corpus (low JS divergence), batch
    2 is the third slice FLOODED with an off-vocabulary token (the JS
    spike an encoding bug or boilerplate regression would produce).
    Output = (batch_id, n_tokens, js) — the monitoring signal itself."""
    import os
    import shutil
    import tempfile

    from . import load
    from ..streaming import StreamingDriftMonitor

    docs = load(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="streaming_drift_")
    q = None
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        monitor = StreamingDriftMonitor(input_col="text",
                                        vocab_size=50_000, smoothing=0.5)
        monitor.fit_reference(docs)
        os.mkdir(os.path.join(tmp, "in"))
        flooded = F.concat_ws(" ", F.col("text"), F.lit("zzdrift"),
                              F.lit("zzdrift"), F.lit("zzdrift"))
        batches = [
            docs.where(F.col("doc_id") % 3 == 0).select("doc_id", "text"),
            docs.where(F.col("doc_id") % 3 == 1).select("doc_id", "text"),
            docs.where(F.col("doc_id") % 3 == 2)
                .select("doc_id", flooded.alias("text")),
        ]
        for i, b in enumerate(batches):
            b.coalesce(1).write.parquet(os.path.join(tmp, f"b{i}"))
            src = [f for f in os.listdir(os.path.join(tmp, f"b{i}"))
                   if f.endswith(".parquet")][0]
            dst = os.path.join(tmp, "in", f"batch{i}.parquet")
            shutil.copy(os.path.join(tmp, f"b{i}", src), dst)
            os.utime(dst, (1_000_000_000 + i * 1000,) * 2)
        stream = (spark.readStream.schema(batches[0].schema)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(os.path.join(tmp, "in")))
        rows: list[tuple] = []
        q = (stream.writeStream
             .foreachBatch(monitor.foreach_batch(
                 lambda res, bid: rows.append(
                     (bid, res["n_tokens"], res["js"]))))
             .trigger(availableNow=True)
             .option("checkpointLocation", os.path.join(tmp, "ckpt"))
             .start())
        q.awaitTermination(300)
        out = spark.createDataFrame(rows,
                                    "batch_id long, n_tokens long, js double")
        return out.select("batch_id", "n_tokens",
                          q4(F.col("js") * 10000).alias("js_q8"))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if q is not None and q.isActive:
            q.stop()
        shutil.rmtree(tmp, ignore_errors=True)


def _streaming_drift_sql() -> str:
    from .llmdata_queries import TOKS
    toks = TOKS
    return f"""
WITH refc AS (SELECT t, COUNT(*) AS c
              FROM (SELECT unnest({toks}) AS t FROM documents) GROUP BY t),
-- vocab_size 50000 >> corpus vocabulary, so every reference token is
-- in-vocab and the reference OOV bucket carries zero count
refm AS (SELECT t, c FROM refc UNION ALL SELECT NULL, 0),
batches AS (
  SELECT 0 AS b, text FROM documents WHERE doc_id % 3 = 0
  UNION ALL SELECT 1, text FROM documents WHERE doc_id % 3 = 1
  UNION ALL SELECT 2, concat(text, ' zzdrift zzdrift zzdrift')
  FROM documents WHERE doc_id % 3 = 2),
bt AS (SELECT b, unnest({toks}) AS t FROM batches),
bfold AS (SELECT b,
                 CASE WHEN t IN (SELECT t FROM refc) THEN t END AS t2,
                 COUNT(*) AS n
          FROM bt GROUP BY b, t2),
grid AS (SELECT bb.b, s.t, s.c, COALESCE(bf.n, 0) AS n
         FROM (SELECT DISTINCT b FROM batches) bb
         CROSS JOIN refm s
         LEFT JOIN bfold bf
           ON bf.b = bb.b AND bf.t2 IS NOT DISTINCT FROM s.t),
consts AS (SELECT (SELECT SUM(c) FROM refc) AS tref,
                  (SELECT COUNT(*) FROM refm) AS v1),
js AS (SELECT b, SUM(n) AS n_tokens,
              SUM(0.5 * ((c + 0.5) / (tref + 0.5 * v1)) *
                  ln(((c + 0.5) / (tref + 0.5 * v1)) /
                     (0.5 * (((c + 0.5) / (tref + 0.5 * v1)) +
                             ((n + 0.5) / (tb + 0.5 * v1)))))
                + 0.5 * ((n + 0.5) / (tb + 0.5 * v1)) *
                  ln(((n + 0.5) / (tb + 0.5 * v1)) /
                     (0.5 * (((c + 0.5) / (tref + 0.5 * v1)) +
                             ((n + 0.5) / (tb + 0.5 * v1)))))) AS js
       FROM (SELECT g.*, tot.tb FROM grid g
             JOIN (SELECT b, SUM(n) AS tb FROM grid GROUP BY b) tot
             USING (b)), consts
       GROUP BY b)
SELECT CAST(b AS BIGINT) AS batch_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       {SQL_Q4.format('js * 10000')} AS js_q8
FROM js
"""


def streaming_quality_gate(spark, sf_dir):
    """Per-micro-batch circuit breaker in front of stateful stages:
    three event micro-batches replay through readStream →
    foreachBatch(StreamingQualityGate) — batches 0/1 are clean id-hash
    slices (forwarded to the sink), batch 2 is corrupted the way
    upstream regressions actually corrupt (a unit bug ×1000 on value, an
    unknown enum from a deploy) and is quarantined WHOLE.  Output = the
    full per-batch verdict report plus the routing decision — one
    aggregation pass per batch, no cross-batch state."""
    import os
    import shutil
    import tempfile

    from ..streaming import StreamingQualityGate

    # load_events handles the nanos/micros timestamp variants; ts itself
    # is not part of the gated payload
    events = load_events(spark, sf_dir).select(
        "event_id", "user_id", "value", "event_type")
    tmp = tempfile.mkdtemp(prefix="streaming_quality_")
    q = None
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        corrupt_val = F.col("value") * 1000
        corrupt_type = F.when(F.col("event_id") % 7 == 0, F.lit("zz_bad")) \
            .otherwise(F.col("event_type"))
        batches = [
            events.where(F.col("event_id") % 3 == 0),
            events.where(F.col("event_id") % 3 == 1),
            events.where(F.col("event_id") % 3 == 2)
                  .withColumn("value", corrupt_val)
                  .withColumn("event_type", corrupt_type),
        ]
        os.mkdir(os.path.join(tmp, "in"))
        for i, b in enumerate(batches):
            b.coalesce(1).write.parquet(os.path.join(tmp, f"b{i}"))
            src = [f for f in os.listdir(os.path.join(tmp, f"b{i}"))
                   if f.endswith(".parquet")][0]
            dst = os.path.join(tmp, "in", f"batch{i}.parquet")
            shutil.copy(os.path.join(tmp, f"b{i}", src), dst)
            os.utime(dst, (1_000_000_000 + i * 1000,) * 2)
        gate = StreamingQualityGate(constraints=[
            {"type": "min_rows", "value": 100},
            {"type": "not_null", "col": "user_id"},
            {"type": "in_range", "col": "value", "min": 0, "max": 500},
            {"type": "in_set", "col": "event_type",
             "allowed": ["click", "signup", "purchase", "error", "view"]},
        ])
        routed: dict[int, str] = {}
        reports: list[tuple] = []

        def report_fn(rows, bid, passed):
            routed[bid] = "sink" if passed else "quarantine"
            for r in rows:
                reports.append((bid, r["constraint"], r["column"] or "",
                                float(r["observed"]), bool(r["passed"])))

        stream = (spark.readStream.schema(batches[0].schema)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(os.path.join(tmp, "in")))
        q = (stream.writeStream
             .foreachBatch(gate.foreach_batch(
                 sink_fn=lambda df, bid: df.count(),
                 quarantine_fn=lambda df, bid: df.count(),
                 report_fn=report_fn))
             .trigger(availableNow=True)
             .option("checkpointLocation", os.path.join(tmp, "ckpt"))
             .start())
        q.awaitTermination(300)
        out = spark.createDataFrame(
            [(b, c, col, obs, routed[b], p)
             for (b, c, col, obs, p) in reports],
            "batch_id long, rule string, col string, observed double, "
            "routed string, passed boolean")
        return out.select("batch_id", "rule", "col",
                          q4(F.col("observed")).alias("observed"),
                          "routed", F.col("passed").cast("int")
                          .alias("passed"))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        if q is not None and q.isActive:
            q.stop()
        shutil.rmtree(tmp, ignore_errors=True)


STREAMING_QUALITY_SQL = f"""
WITH batches AS (
  SELECT event_id % 3 AS b, user_id,
         CASE WHEN event_id % 3 = 2 THEN value * 1000 ELSE value END
           AS value,
         CASE WHEN event_id % 3 = 2 AND event_id % 7 = 0 THEN 'zz_bad'
              ELSE event_type END AS event_type
  FROM events),
agg AS (SELECT b, COUNT(*) AS n, COUNT(user_id) AS nn_u,
               COUNT(CASE WHEN value BETWEEN 0 AND 500 THEN 1 END) AS ok_v,
               COUNT(value) AS nn_v,
               COUNT(CASE WHEN event_type IN
                     ('click','signup','purchase','error','view')
                     THEN 1 END) AS ok_t,
               COUNT(event_type) AS nn_t
        FROM batches GROUP BY b),
rep AS (
  SELECT b, 'min_rows' AS rule, '' AS col, CAST(n AS DOUBLE) AS obs,
         n >= 100 AS p FROM agg
  UNION ALL SELECT b, 'not_null', 'user_id', CAST(n - nn_u AS DOUBLE),
         n - nn_u = 0 FROM agg
  UNION ALL SELECT b, 'in_range', 'value', ok_v * 1.0 / nn_v,
         ok_v = nn_v FROM agg
  UNION ALL SELECT b, 'in_set', 'event_type', ok_t * 1.0 / nn_t,
         ok_t = nn_t FROM agg),
route AS (SELECT b, CASE WHEN BOOL_AND(p) THEN 'sink' ELSE 'quarantine' END
                 AS routed FROM rep GROUP BY b)
SELECT rep.b AS batch_id, rule, col, {SQL_Q4.format('obs')} AS observed,
       route.routed AS routed, CAST(p AS INT) AS passed
FROM rep JOIN route ON rep.b = route.b
"""



def funnel_conversion(spark, sf_dir):
    """Ordered view->click->purchase funnel with greedy earliest-
    completion stage times — integer millis + stage counts, replayed
    exactly by stepwise min-join CTEs."""
    from ..common.temporal import FunnelAnalyzer
    ev = load_events(spark, sf_dir)
    out = FunnelAnalyzer("user_id", "event_type", "ts_ms",
                         ["view", "click", "purchase"]).transform(ev)
    return out.select("user_id", "t1", "t2", "t3", "stages_completed")


FUNNEL_SQL = """
WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS tms FROM events),
s1 AS (SELECT user_id, min(tms) AS t1 FROM e
       WHERE event_type = 'view' GROUP BY 1),
s2 AS (SELECT e.user_id, min(tms) AS t2 FROM e
       JOIN s1 ON s1.user_id = e.user_id AND e.tms > s1.t1
       WHERE event_type = 'click' GROUP BY 1),
s3 AS (SELECT e.user_id, min(tms) AS t3 FROM e
       JOIN s2 ON s2.user_id = e.user_id AND e.tms > s2.t2
       WHERE event_type = 'purchase' GROUP BY 1)
SELECT s1.user_id AS user_id, t1, t2, t3,
       CAST(1 + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
              + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END AS INTEGER)
       AS stages_completed
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
"""


def cohort_retention(spark, sf_dir):
    """Daily-cohort retention triangle over the event log — every cell
    an integer, the rate one exact-integer division (q4-stable)."""
    from ..common.temporal import CohortRetention
    ev = load_events(spark, sf_dir)
    out = CohortRetention("user_id", "ts_ms", 86400000).transform(ev)
    return out.select("cohort", "k", "users", "cohort_size",
                      q4(F.col("rate")).alias("rate_q4"))


COHORT_RETENTION_SQL = f"""
WITH b AS (SELECT user_id AS u, epoch_ms(ts) // 86400000 AS p FROM events),
frst AS (SELECT u, min(p) AS cohort FROM b GROUP BY 1),
sizes AS (SELECT cohort, count(*) AS cohort_size FROM frst GROUP BY 1),
cells AS (SELECT cohort, p - cohort AS k, count(DISTINCT b.u) AS users
          FROM b JOIN frst ON frst.u = b.u GROUP BY 1, 2)
SELECT cells.cohort AS cohort, k, users, cohort_size,
       {SQL_Q4.format("CAST(users AS DOUBLE) / CAST(cohort_size AS DOUBLE)")}
       AS rate_q4
FROM cells JOIN sizes ON sizes.cohort = cells.cohort
"""


def ab_proportion_test(spark, sf_dir):
    """Two-proportion z-test on a synthetic A/B split of the event log
    (variant = user parity, conversion = purchase events).  Counts are
    integers and z is divisions + one sqrt of exact integers in a fixed
    order — IEEE-correctly-rounded in both engines, so q4 is stable;
    the p-value (special-function) is pinned by pytest instead."""
    from ..stats import TwoProportionZTest
    from . import load
    ev = load(spark, sf_dir, "events")
    df = ev.select((F.col("user_id") % 2).cast("string").alias("grp"),
                   (F.col("event_type") == "purchase")
                   .cast("int").alias("y"))
    out = TwoProportionZTest(groupCol="grp", outcomeCol="y").transform(df)[0]
    return out.select("group1", "group2", "n1", "x1", "n2", "x2",
                      q4(F.col("z")).alias("z_q4"))


AB_PROPORTION_SQL = f"""
WITH g AS (SELECT CAST(user_id % 2 AS VARCHAR) AS grp,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
           FROM events),
s AS (SELECT grp, count(*) AS n, CAST(sum(y) AS BIGINT) AS x
      FROM g GROUP BY 1),
s1 AS (SELECT * FROM s ORDER BY grp LIMIT 1),
s2 AS (SELECT * FROM s ORDER BY grp DESC LIMIT 1),
z AS (SELECT s1.grp AS group1, s2.grp AS group2,
             s1.n AS n1, s1.x AS x1, s2.n AS n2, s2.x AS x2,
             (CAST(s1.x AS DOUBLE) / s1.n - CAST(s2.x AS DOUBLE) / s2.n)
             / sqrt((CAST(s1.x + s2.x AS DOUBLE) / (s1.n + s2.n))
                    * (1.0 - CAST(s1.x + s2.x AS DOUBLE) / (s1.n + s2.n))
                    * (1.0 / s1.n + 1.0 / s2.n)) AS z
      FROM s1, s2)
SELECT group1, group2, n1, x1, n2, x2,
       {SQL_Q4.format("z")} AS z_q4
FROM z
"""


def streaming_cardinality(spark, sf_dir):
    """Incremental distinct-count over a 2-micro-batch replay of the
    customer-key stream: per-batch HLL sketches merged by register max.
    Merge is EXACT, so the accumulated registers equal a single batch
    fit over everything seen — the oracle is literally the batch HLL
    SQL, gating the streaming path bit-for-bit."""
    import os
    import shutil
    import tempfile

    from . import load
    from ..streaming import StreamingCardinalityMonitor
    orders = load(spark, sf_dir, "orders")
    data = orders.select(F.col("o_custkey").cast("string").alias("tok"),
                         (F.col("o_orderkey") % 2 == 0).alias("even"))
    tmp = tempfile.mkdtemp(prefix="streaming_card_")
    q = None
    try:
        os.mkdir(os.path.join(tmp, "in"))
        for i, half in enumerate((data.where("even"),
                                  data.where("NOT even"))):
            half.select("tok").coalesce(1).write.parquet(
                os.path.join(tmp, f"b{i}"))
            src = [f for f in os.listdir(os.path.join(tmp, f"b{i}"))
                   if f.endswith(".parquet")][0]
            dst = os.path.join(tmp, "in", f"batch{i}.parquet")
            shutil.copy(os.path.join(tmp, f"b{i}", src), dst)
            os.utime(dst, (1_000_000_000 + i * 1000,) * 2)
        stream = (spark.readStream.schema("tok string")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(os.path.join(tmp, "in")))
        mon = StreamingCardinalityMonitor("tok", precision=9)
        q = (stream.writeStream.foreachBatch(mon.foreach_batch())
             .trigger(availableNow=True)
             .option("checkpointLocation", os.path.join(tmp, "ckpt"))
             .start())
        q.awaitTermination(300)
        if len(mon.history) < 2:
            raise RuntimeError(
                f"streaming_cardinality: expected >= 2 micro-batches, "
                f"saw {len(mon.history)}")
        return mon.model.registers_df(spark)
    finally:
        if q is not None and q.isActive:
            q.stop()
        shutil.rmtree(tmp, ignore_errors=True)


def mann_whitney_u(spark, sf_dir):
    """Rank-sum test of event values across the user-parity A/B split:
    2*U1 is an exact integer (doubled midranks), the tie-corrected z a
    fixed-order float pipeline over exact integers — q4-stable; the
    p-value is pinned by pytest."""
    from ..stats import MannWhitneyUTest
    from . import load
    ev = load(spark, sf_dir, "events")
    df = ev.select((F.col("user_id") % 2).cast("string").alias("grp"),
                   F.col("value").alias("val"))
    out = MannWhitneyUTest(groupCol="grp", valueCol="val").transform(df)[0]
    return out.select("group1", "group2", "n1", "n2", "u1_x2",
                      q4(F.col("z")).alias("z_q4"))


MANN_WHITNEY_SQL = f"""
WITH pooled AS (SELECT CAST(user_id % 2 AS VARCHAR) AS g,
                       CAST(value AS DOUBLE) AS val
                FROM events WHERE value IS NOT NULL),
vals AS (SELECT val, count(*) AS c FROM pooled GROUP BY 1),
ranked AS (SELECT val, 2 * COALESCE(SUM(c) OVER (ORDER BY val
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + c + 1 AS r2 FROM vals),
per AS (SELECT g, count(*) AS n, CAST(SUM(r.r2) AS BIGINT) AS sr
        FROM pooled p JOIN ranked r ON r.val = p.val GROUP BY 1),
p1 AS (SELECT * FROM per ORDER BY g LIMIT 1),
p2 AS (SELECT * FROM per ORDER BY g DESC LIMIT 1),
ties AS (SELECT CAST(SUM(c*c*c - c) AS BIGINT) AS t FROM vals),
tot AS (SELECT CAST((SELECT n FROM p1) + (SELECT n FROM p2) AS BIGINT)
        AS n)
SELECT p1.g AS group1, p2.g AS group2, p1.n AS n1, p2.n AS n2,
       p1.sr - p1.n * (p1.n + 1) AS u1_x2,
       {SQL_Q4.format(
           "((p1.sr - p1.n * (p1.n + 1)) / 2.0 - p1.n * p2.n / 2.0) / "
           "sqrt(p1.n * p2.n / 12.0 * ((tot.n + 1.0) - "
           "CAST(ties.t AS DOUBLE) / (tot.n * (tot.n - 1.0))))")} AS z_q4
FROM p1, p2, ties, tot
"""


def streaming_funnel(spark, sf_dir):
    """TRUE streaming ordered funnel: events replayed through
    readStream in two event-time-ordered micro-batches into
    ``StreamingFunnel`` (applyInPandasWithState, k-long GroupState per
    user, event-time timeout); a far-future sentinel row rides in the
    SECOND batch, advancing the watermark computed at its end, and the
    engine's standard trailing no-data micro-batch (pinned on for the
    query: ``spark.sql.streaming.noDataMicroBatches.enabled``) is where
    every user's timeout fires and the final row emits.  (r09 cut the former
    separate first sentinel batch; r10 cuts the trailing sentinel-only
    FILE batch — it only re-advanced a watermark already past every
    user's timeout, which the no-data batch the engine appends anyway
    fires identically: profiled 4 executed micro-batches → 3.)  The
    inactivity gap exceeds the stream's span, so no user emits
    mid-stream — output semantics (and oracle) are identical to the
    batch FunnelAnalyzer / FUNNEL_SQL."""
    import os
    import shutil
    import tempfile
    import uuid

    from ..streaming import StreamingFunnel
    ev = load_events(spark, sf_dir)
    data = ev.select("user_id", "event_type", "ts_ms", "ts_t")
    mid, max_ts = data.agg(
        F.expr("percentile_approx(ts_ms, 0.5)"), F.max("ts_ms")).first()
    gap_ms = 400 * 86_400_000  # > any testdata span: no mid-stream flush
    sent_ts = max_ts + gap_ms + 120_000
    sent = spark.createDataFrame(
        [(-1, "noop", sent_ts)], "user_id long, event_type string, "
                                 "ts_ms long") \
        .withColumn("ts_t", F.timestamp_millis(F.col("ts_ms")))
    tmp = tempfile.mkdtemp(prefix="streaming_funnel_")
    view = f"streaming_funnel_{uuid.uuid4().hex[:8]}"
    q = None
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    # every timeout fires in the trailing no-data micro-batch: pin it, so
    # a session that turned it off cannot silently get an empty result
    no_data = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev_no_data = spark.conf.get(no_data)
    spark.conf.set(no_data, "true")
    try:
        os.mkdir(os.path.join(tmp, "in"))
        parts = [data.where(F.col("ts_ms") <= mid),
                 data.where(F.col("ts_ms") > mid).unionByName(sent)]
        for i, part in enumerate(parts):
            part.coalesce(1).write.parquet(os.path.join(tmp, f"b{i}"))
            src = [f for f in os.listdir(os.path.join(tmp, f"b{i}"))
                   if f.endswith(".parquet")][0]
            dst = os.path.join(tmp, "in", f"batch{i}.parquet")
            shutil.copy(os.path.join(tmp, f"b{i}", src), dst)
            os.utime(dst, (1_000_000_000 + i * 1000,) * 2)
        stream = (spark.readStream.schema(data.schema)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(os.path.join(tmp, "in")))
        fun = StreamingFunnel("user_id", "event_type", "ts_ms",
                              ["view", "click", "purchase"],
                              inactivity_ms=gap_ms,
                              watermark_col="ts_t",
                              watermark_delay="1 minute").apply(stream)
        q = (fun.writeStream.format("memory").queryName(view)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(300)
        out = spark.table(view).filter(F.col("user_id") >= 0)
        nn = lambda c: F.when(F.col(c) >= 0, F.col(c))  # -1 -> NULL
        return out.select("user_id", F.col("t1").alias("t1"),
                          nn("t2").alias("t2"), nn("t3").alias("t3"),
                          F.col("stages_completed").cast("int")
                          .alias("stages_completed"))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set(no_data, prev_no_data)
        if q is not None and q.isActive:
            q.stop()
        shutil.rmtree(tmp, ignore_errors=True)

QUERIES = {
    "streaming_funnel": (streaming_funnel, FUNNEL_SQL),
    "mann_whitney_u": (mann_whitney_u, MANN_WHITNEY_SQL),
    "streaming_cardinality": (streaming_cardinality, _HLL_SQL),
    "ab_proportion_test": (ab_proportion_test, AB_PROPORTION_SQL),
    "cohort_retention": (cohort_retention, COHORT_RETENTION_SQL),
    "funnel_conversion": (funnel_conversion, FUNNEL_SQL),
    "event_windows": (event_windows, EVENT_WINDOWS_SQL),
    "streaming_quality_gate": (streaming_quality_gate,
                               STREAMING_QUALITY_SQL),
    "session_windows": (session_windows, SESSION_WINDOWS_SQL),
    "stateful_sessions": (stateful_sessions, STATEFUL_SESSIONS_SQL),
    "online_standard_scaler": (online_standard_scaler, ONLINE_SCALER_SQL),
    "online_kmeans": (online_kmeans, ONLINE_KMEANS_SQL),
    "online_scaler_delayed": (online_scaler_delayed, ONLINE_SCALER_DELAYED_SQL),
    "online_logistic_regression": (online_logistic_regression, ONLINE_FTRL_SQL),
    "asof_join": (asof_join_events, ASOF_JOIN_SQL),
    "range_join": (range_join_events, RANGE_JOIN_SQL),
    "sliding_windows": (sliding_windows, SLIDING_WINDOWS_SQL),
    "streaming_dedup": (streaming_dedup, STREAMING_DEDUP_SQL),
    "streaming_incremental_dedup": (streaming_incremental_dedup,
                                    _streaming_incremental_sql()),
    "streaming_drift": (streaming_drift, _streaming_drift_sql()),
}
