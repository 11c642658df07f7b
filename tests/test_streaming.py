"""Online estimator tests: deterministic batch-driven harness (the
foreachBatch contract) + one true Structured Streaming smoke test
(FIXTURES.md §8 pattern)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from flink_ml_spark.streaming import (OnlineKMeans, OnlineLogisticRegression,
                                      OnlineStandardScaler, Windows)


def _batches(spark, data, n_batches):
    per = len(data) // n_batches
    return [spark.createDataFrame(data[i * per:(i + 1) * per],
                                  "ts double, features array<double>")
            for i in range(n_batches)]


def test_online_standard_scaler_cumulative(spark):
    data = [(float(i), [float(i)]) for i in range(10)]
    scaler = OnlineStandardScaler(featuresCol="features")
    for bid, b in enumerate(_batches(spark, data, 2)):
        scaler.process_batch(b, bid)
    vs = scaler._versions
    assert len(vs) == 2
    # after batch 1: values 0..4 → mean 2; after batch 2 cumulative 0..9
    assert vs[0]["mean"][0] == pytest.approx(2.0)
    assert vs[1]["mean"][0] == pytest.approx(4.5)
    assert vs[1]["std"][0] == pytest.approx(np.std(range(10), ddof=1))


def test_online_scaler_model_versioned_inference(spark):
    # ts in epoch millis
    data = [(float(i) * 1000, [float(i)]) for i in range(10)]
    scaler = OnlineStandardScaler(featuresCol="features", windowMillis=5000)
    scaler.process_batch(spark.createDataFrame(
        data, "ts double, features array<double>"), 0)
    # windows [0,5s) and [5s,10s) → two versions with timestamps 5000/10000
    model = scaler.latest_model()
    model.set_(maxAllowedModelDelayMs=0, modelVersionCol="ver")
    model.set(type(model).timeCol, "ts")
    test = spark.createDataFrame([(6000.0, [1.0]), (11000.0, [1.0])],
                                 "ts double, features array<double>")
    got = {r["ts"]: r["ver"] for r in model.transform(test)[0].collect()}
    # ts=6s: only window-1 model (ts 5000) is old enough; ts=11s: version 1
    assert got[6000.0] == 0
    assert got[11000.0] == 1


def test_online_kmeans_decay(spark):
    b1 = spark.createDataFrame([([0.0, 0.0],), ([0.2, 0.0],), ([10.0, 0.0],), ([10.2, 0.0],)],
                               "features array<double>")
    b2 = spark.createDataFrame([([1.0, 0.0],), ([11.0, 0.0],)],
                               "features array<double>")
    km = OnlineKMeans(featuresCol="features", k=2, decayFactor=1.0)
    km.set_initial_model([[0.0, 0.0], [10.0, 0.0]])
    km.process_batch(b1, 0)
    c1 = sorted(r[0] for r in km._centers)
    assert c1[0] == pytest.approx(0.1) and c1[1] == pytest.approx(10.1)
    km.process_batch(b2, 1)
    # decay=1: running weighted mean of 3 points per cluster
    c2 = sorted(r[0] for r in km._centers)
    assert c2[0] == pytest.approx((0.0 + 0.2 + 1.0) / 3)
    assert c2[1] == pytest.approx((10.0 + 10.2 + 11.0) / 3)


def test_online_kmeans_full_decay_forgets(spark):
    km = OnlineKMeans(featuresCol="features", k=2, decayFactor=0.0)
    km.set_initial_model([[0.0], [10.0]])
    b = spark.createDataFrame([([2.0],), ([12.0],)], "features array<double>")
    km.process_batch(b, 0)
    c = sorted(r[0] for r in km._centers)
    assert c == pytest.approx([2.0, 12.0])  # decay 0 → only the new batch


def test_online_ftrl_learns(spark):
    rng = np.random.RandomState(5)
    w_true = np.array([1.5, -2.0])
    ftrl = OnlineLogisticRegression(featuresCol="features", labelCol="label",
                                    alpha=0.5, l1=0.001, l2=0.001)
    for bid in range(20):
        x = rng.randn(200, 2)
        p = 1 / (1 + np.exp(-(x @ w_true)))
        y = (rng.rand(200) < p).astype(float)
        b = spark.createDataFrame(
            [([float(a), float(bb)], float(c)) for (a, bb), c in zip(x, y)],
            "features array<double>, label double")
        ftrl.process_batch(b, bid)
    w = ftrl.weights()
    assert w[0] > 0.5 and w[1] < -0.7  # signs + rough magnitude learned
    model = ftrl.latest_model()
    test = spark.createDataFrame([([2.0, -2.0],), ([-2.0, 2.0],)],
                                 "features array<double>")
    got = [r["prediction"] for r in model.transform(test)[0].collect()]
    assert got == [1.0, 0.0]


def test_online_scaler_long_history_asof_join(spark):
    """Past _VERSION_CHAIN_MAX versions the model switches from the CASE
    chain to a broadcast as-of join — same answers."""
    from flink_ml_spark.streaming.online import OnlineStandardScalerModel

    def mk(n_versions):
        m = OnlineStandardScalerModel()
        m.set_(featuresCol="features", maxAllowedModelDelayMs=0,
               modelVersionCol="ver")
        m.set(type(m).timeCol, "ts")
        m.model_data = {"versions": [
            {"version": v, "timestamp": float(v * 1000),
             "mean": [float(v)], "std": [1.0]} for v in range(n_versions)]}
        return m

    test = spark.createDataFrame(
        [(500.0, [10.0]), (70500.0, [10.0]), (200500.0, [10.0])],
        "ts double, features array<double>")
    big = mk(100)   # join path
    got = {r["ts"]: (r["ver"], r["output"][0])
           for r in big._transform(test).collect()}
    # ts=500 → version 0 (mean 0); ts=70500 → version 70; ts beyond last →
    # version 99
    assert got[500.0] == (0, 10.0)
    assert got[70500.0] == (70, 10.0 - 70.0)
    assert got[200500.0] == (99, 10.0 - 99.0)
    small = mk(50)  # CASE-chain path, same convention
    got_s = {r["ts"]: (r["ver"], r["output"][0])
             for r in small._transform(test).collect()}
    assert got_s[500.0] == (0, 10.0)
    assert got_s[70500.0] == (49, 10.0 - 49.0)


def test_online_scaler_watermark_drops_late_rows(spark, tmp_path):
    """Event-time windows + watermark: late rows beyond the delay are
    dropped by Spark's stateful windowed aggregation (reference bounded-
    lateness contract, OnlineStandardScaler.java:91-95), and windows
    finalize exactly once in event-time order."""
    import time
    import pandas as pd
    src = tmp_path / "wm_src"
    src.mkdir()
    # on-time rows: window [0,5s) = {1,2}, window [5,10s) = {6};
    # ts=21s advances the watermark (delay 5s → watermark 16s)
    pd.DataFrame({"ts": [1.0, 2.0, 6.0, 21.0],
                  "v": [1.0, 2.0, 6.0, 21.0]}).to_parquet(src / "a.parquet")
    time.sleep(1.1)  # distinct mtimes → files process in write order
    # a second trigger activates the advanced watermark for input filtering
    # (Spark applies the watermark computed at the END of batch N to the
    # INPUT of batch N+1)
    pd.DataFrame({"ts": [22.0], "v": [22.0]}).to_parquet(src / "b.parquet")
    time.sleep(1.1)
    # late row for window [0,5s): watermark is at 16s → dropped
    pd.DataFrame({"ts": [1.5], "v": [100.0]}).to_parquet(src / "c.parquet")
    stream = (spark.readStream
              .schema("ts double, v double")
              .option("maxFilesPerTrigger", 1)
              .parquet(str(src))
              .select("ts", F.array("v").alias("features")))
    scaler = OnlineStandardScaler(featuresCol="features", windowMillis=5000)
    q = scaler.attach_event_time(stream, delay="5 seconds",
                                 checkpoint=str(tmp_path / "wm_ckpt"))
    q.processAllAvailable()
    q.stop()
    vs = scaler._versions
    # windows [0,5) and [5,10) finalized; [20,25) never closed (no later
    # data), and the late 100.0 is NOT in any version
    assert len(vs) == 2
    assert vs[0]["timestamp"] == pytest.approx(5000.0)
    assert vs[0]["mean"][0] == pytest.approx(1.5)        # {1, 2}
    assert vs[1]["mean"][0] == pytest.approx(3.0)        # cumulative {1,2,6}


def test_online_scaler_true_stream(spark, tmp_path):
    """End-to-end Structured Streaming: parquet source → foreachBatch."""
    import pandas as pd
    src = tmp_path / "stream_src"
    src.mkdir()
    pd.DataFrame({"ts": [0.0, 1.0], "v0": [1.0, 2.0], "v1": [10.0, 20.0]}) \
        .to_parquet(src / "a.parquet")
    pd.DataFrame({"ts": [2.0, 3.0], "v0": [3.0, 4.0], "v1": [30.0, 40.0]}) \
        .to_parquet(src / "b.parquet")
    stream = (spark.readStream
              .schema("ts double, v0 double, v1 double")
              .option("maxFilesPerTrigger", 1)
              .parquet(str(src))
              .select("ts", F.array("v0", "v1").alias("features")))
    scaler = OnlineStandardScaler(featuresCol="features")
    q = scaler.attach(stream, checkpoint=str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    assert len(scaler._versions) >= 1
    final = scaler._versions[-1]
    assert final["mean"] == pytest.approx([2.5, 25.0])


def test_stateful_sessionizer_gap_and_timeout(spark, tmp_path):
    """applyInPandasWithState sessionization: in-batch gap closes emit
    immediately; a key silent past (last_event + gap) relative to the
    watermark emits via the event-time TIMEOUT path (no sentinel data)."""
    import pandas as pd
    import time
    from flink_ml_spark.streaming import StatefulSessionizer

    src = tmp_path / "sess_src"
    src.mkdir()
    gap = 600_000
    # batch 0: user 2's session ends at 2_000; user 1 has an in-batch gap
    # (1_000 → 10_000_000) closing its first session immediately, and its
    # late event drives the watermark to ~10_000_000 - delay
    pd.DataFrame({"user_id": [2, 2, 1, 1],
                  "ts_ms": [1_000, 2_000, 1_000, 10_000_000],
                  "value": [1.0, 2.0, 5.0, 7.0]}) \
        .to_parquet(src / "a.parquet")
    time.sleep(1.1)
    # batch 1: data only for user 1 — user 2's timeout (2_000 + gap) is far
    # below the batch-0 watermark, so its open session MUST emit by timeout
    pd.DataFrame({"user_id": [1], "ts_ms": [20_000_000], "value": [9.0]}) \
        .to_parquet(src / "b.parquet")
    stream = (spark.readStream
              .schema("user_id long, ts_ms long, value double")
              .option("maxFilesPerTrigger", 1)
              .parquet(str(src))
              .withColumn("ts_t", F.timestamp_millis(F.col("ts_ms"))))
    s = StatefulSessionizer(key_col="user_id", ts_col="ts_ms",
                            value_col="value", gap_ms=gap,
                            watermark_col="ts_t", watermark_delay="1 minute")
    q = (s.apply(stream).writeStream.format("memory")
         .queryName("sess_test").outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    got = {(r.user_id, r.s_start, r.s_end, r.n_events, r.sum_value)
           for r in spark.table("sess_test").collect()}
    assert (1, 1_000, 1_000, 1, 5.0) in got          # gap-closed in batch 0
    assert (2, 1_000, 2_000, 2, 3.0) in got          # TIMEOUT-closed in batch 1
    assert (1, 10_000_000, 10_000_000, 1, 7.0) in got  # gap-closed in batch 1
    # user 1's trailing session (20_000_000) is still open: not emitted
    assert len(got) == 3


def test_stateful_sessionizer_fn_matches_islands_replay():
    """Drive the session fold function directly (stub GroupState) over
    randomized multi-batch event streams and compare the emitted + open
    sessions against a straight gap-islands replay of the same events."""
    import numpy as np
    import pandas as pd
    from flink_ml_spark.streaming import StatefulSessionizer

    class FakeState:
        def __init__(self):
            self._v, self.hasTimedOut = None, False
        @property
        def exists(self):
            return self._v is not None
        @property
        def get(self):
            return self._v
        def update(self, v):
            self._v = v
        def remove(self):
            self._v = None
        def setTimeoutTimestamp(self, ts):
            self.timeout = ts

    gap = 100
    rng = np.random.RandomState(7)
    for trial in range(20):
        # batches of increasing timestamps (event-time order across
        # batches, arbitrary order within — matches the operator contract)
        ts = np.cumsum(rng.randint(1, 300, size=rng.randint(1, 40)))
        splits = sorted(rng.choice(len(ts), size=rng.randint(0, 3),
                                   replace=False)) if len(ts) > 1 else []
        batches = np.split(ts, splits)
        s = StatefulSessionizer(key_col="k", ts_col="t", value_col="v",
                                gap_ms=gap)
        fn = s._make_fn()
        state = FakeState()
        emitted = []
        for b in batches:
            if not len(b):
                continue
            perm = rng.permutation(len(b))
            pdf = pd.DataFrame({"k": 1, "t": b[perm],
                                "v": b[perm].astype(float)})
            for out in fn((1,), iter([pdf]), state):
                emitted.extend(out.itertuples(index=False))
        # islands replay
        want = []
        cur = [ts[0]]
        for t in ts[1:]:
            if t - cur[-1] >= gap:
                want.append(cur)
                cur = [t]
            else:
                cur.append(t)
        got = [(e.s_start, e.s_end, e.n_events, e.sum_value) for e in emitted]
        want_closed = [(int(c[0]), int(c[-1]), len(c), float(sum(c)))
                       for c in want]
        assert got == want_closed, f"trial {trial}: {got} != {want_closed}"
        # the trailing open session is exactly what's left in state
        assert state.get == (int(cur[0]), int(cur[-1]), len(cur),
                             float(sum(cur)))


def test_streaming_dedup_drops_cross_batch_duplicates(spark, tmp_path):
    import os
    import pyspark.sql.functions as F
    from flink_ml_spark.streaming import StreamingExactDeduplicator

    base = 1_700_000_000_000
    b0 = spark.createDataFrame(
        [(i, f"text-{i}") for i in range(20)], "doc_id long, text string") \
        .select("doc_id", "text",
                F.timestamp_millis(F.lit(base) + F.col("doc_id")).alias("ts_t"))
    # batch 2: 5 duplicates of batch-1 texts + 3 new
    b1 = spark.createDataFrame(
        [(100 + i, f"text-{i}") for i in range(5)]
        + [(200 + i, f"new-{i}") for i in range(3)],
        "doc_id long, text string") \
        .select("doc_id", "text",
                F.timestamp_millis(F.lit(base + 1000) + F.col("doc_id")).alias("ts_t"))
    indir = tmp_path / "in"
    indir.mkdir()
    for i, b in enumerate((b0, b1)):
        d = tmp_path / f"b{i}"
        b.coalesce(1).write.parquet(str(d))
        src = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        dst = indir / f"batch{i}.parquet"
        (d / src).rename(dst)
        os.utime(dst, (1_000_000_000 + i * 1000,) * 2)

    dd = StreamingExactDeduplicator(["text"], watermark_col="ts_t",
                                    watermark_delay="10 minutes")
    # batch path: plain dropDuplicates on digest
    assert dd.apply(b0.union(b1)).count() == 23

    stream = (spark.readStream.schema(b0.schema)
              .option("maxFilesPerTrigger", 1).parquet(str(indir)))
    q = (dd.apply(stream).select("doc_id", "content_sha")
         .writeStream.format("memory").queryName("sdedup_test")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.table("sdedup_test").collect()
    assert len(got) == 23                        # 20 + 3 new, 5 dups dropped
    kept_ids = {r["doc_id"] for r in got}
    assert all(i not in kept_ids for i in range(100, 105))


def test_stateful_sessionizer_late_event_does_not_regress_session():
    """A within-watermark late event arriving in a LATER micro-batch must
    merge into the stored session (extend start, never regress end)."""
    import pandas as pd
    from flink_ml_spark.streaming import StatefulSessionizer

    class FakeState:
        def __init__(self):
            self._v, self.hasTimedOut = None, False
        @property
        def exists(self):
            return self._v is not None
        @property
        def get(self):
            return self._v
        def update(self, v):
            self._v = v
        def remove(self):
            self._v = None
        def setTimeoutTimestamp(self, ts):
            self.timeout = ts

    gap = 600_000
    s = StatefulSessionizer(key_col="k", ts_col="t", value_col="v",
                            gap_ms=gap)
    fn = s._make_fn()
    state = FakeState()
    b1 = pd.DataFrame({"k": 1, "t": [1_000_000], "v": [1.0]})
    list(fn((1,), iter([b1]), state))
    # 30s-late event from the next batch
    b2 = pd.DataFrame({"k": 1, "t": [970_000], "v": [2.0]})
    list(fn((1,), iter([b2]), state))
    assert state.get == (970_000, 1_000_000, 2, 3.0)   # s extended, e kept
    assert state.timeout == 1_000_000 + gap            # not regressed
    # an event 575s after the TRUE end must continue the session, not split
    b3 = pd.DataFrame({"k": 1, "t": [1_575_000], "v": [3.0]})
    emitted = [df for df in fn((1,), iter([b3]), state)]
    assert emitted == []                               # no spurious close
    assert state.get == (970_000, 1_575_000, 3, 6.0)


def test_streaming_incremental_dedup_three_batches(spark):
    from flink_ml_spark.streaming import StreamingIncrementalDeduplicator

    dd = StreamingIncrementalDeduplicator(
        id_col="doc_id", text_col="text", shingle_size=2, num_hashes=16,
        band_size=2, threshold=0.9, seed=42)
    b1 = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog"),
         (1, "completely unrelated historical document body")],
        "doc_id long, text string")
    b2 = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog"),   # dup of 0
         (11, "fresh second batch text matching nothing else")],
        "doc_id long, text string")
    b3 = spark.createDataFrame(
        [(20, "fresh second batch text matching nothing else"),  # dup of 11
         (21, "the quick brown fox jumps over the lazy dog")],   # dup of 0
        "doc_id long, text string")
    # batch 1 seeds the empty store: no matches, both docs become state
    m1 = dd.process_batch(b1).collect()
    assert m1 == []
    assert {r["doc_id"] for r in dd.store.collect()} == {0, 1}
    # batch 2 matches the store, survivor folds in
    m2 = {(r["id"], r["match_id"]) for r in dd.process_batch(b2).collect()}
    assert m2 == {(10, 0)}
    assert {r["doc_id"] for r in dd.store.collect()} == {0, 1, 11}
    # batch 3 matches across BOTH earlier batches; nothing survives
    m3 = {(r["id"], r["match_id"]) for r in dd.process_batch(b3).collect()}
    assert m3 == {(20, 11), (21, 0)}
    assert {r["doc_id"] for r in dd.store.collect()} == {0, 1, 11}


def test_streaming_incremental_dedup_replay_idempotent(spark):
    # foreachBatch is at-least-once: re-delivering a batch whose store
    # update already committed must not self-match or duplicate state
    from flink_ml_spark.streaming import StreamingIncrementalDeduplicator

    dd = StreamingIncrementalDeduplicator(
        id_col="doc_id", text_col="text", shingle_size=2, num_hashes=16,
        band_size=2, threshold=0.9, seed=42)
    b1 = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog"),
         (1, "completely unrelated historical document body")],
        "doc_id long, text string")
    assert dd.process_batch(b1).collect() == []
    # replay the same batch: no self-matches, store unchanged
    replay = dd.process_batch(b1).collect()
    assert replay == []
    store = [(r["doc_id"], tuple(r["sig"])) for r in dd.store.collect()]
    assert sorted(s[0] for s in store) == [0, 1]


def test_streaming_incremental_dedup_seed_store_restart(spark):
    # restart path: a NEW deduplicator seeded from the persisted signature
    # table matches against pre-restart history (an unseeded restart would
    # silently start empty — the documented fault-tolerance caveat)
    from flink_ml_spark.streaming import StreamingIncrementalDeduplicator

    def make():
        return StreamingIncrementalDeduplicator(
            id_col="doc_id", text_col="text", shingle_size=2, num_hashes=16,
            band_size=2, threshold=0.9, seed=42)

    b1 = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog"),
         (1, "completely unrelated historical document body")],
        "doc_id long, text string")
    b2 = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog")],  # dup of 0
        "doc_id long, text string")
    dd = make()
    assert dd.process_batch(b1).collect() == []
    persisted = dd.store.toPandas()  # stand-in for a bucketed table write

    restarted = make()
    restarted.seed_store(spark.createDataFrame(persisted))
    m = {(r["id"], r["match_id"])
         for r in restarted.process_batch(b2).collect()}
    assert m == {(10, 0)}
    # seeding after the first batch is a hard error, not silent state loss
    import pytest as _pytest
    with _pytest.raises(ValueError):
        restarted.seed_store(spark.createDataFrame(persisted))


def test_streaming_drift_monitor(spark):
    import math
    from flink_ml_spark.streaming import StreamingDriftMonitor
    ref = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(50)],
        "doc_id long, text string")
    mon = StreamingDriftMonitor(input_col="text", vocab_size=100,
                                smoothing=0.5).fit_reference(ref)
    # a batch drawn from the reference distribution: near-zero divergence
    same = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(10)],
        "doc_id long, text string")
    r_same = mon.process_batch(same)
    assert r_same["n_tokens"] == 40
    assert 0.0 <= r_same["js"] < 0.01
    # an all-OOV batch: large but FINITE divergence, bounded by ln 2
    oov = spark.createDataFrame(
        [(i, "zz yy xx ww") for i in range(10)],
        "doc_id long, text string")
    r_oov = mon.process_batch(oov)
    assert r_same["js"] < r_oov["js"] <= math.log(2) + 1e-12
    # stateless per-batch measurement: same batch -> same number
    assert mon.process_batch(same)["js"] == r_same["js"]
    # vocab cap: only top-k tokens are in-vocab, the rest fold to OOV
    skew = spark.createDataFrame(
        [(0, "alpha alpha alpha beta")], "doc_id long, text string")
    capped = StreamingDriftMonitor(input_col="text", vocab_size=1,
                                   smoothing=0.5).fit_reference(skew)
    assert set(capped.ref) == {"alpha", capped.OOV}
    assert capped.ref["alpha"] == 3 and capped.ref[capped.OOV] == 1


def test_streaming_cardinality_monitor_matches_batch(spark):
    """Register-max merge is exact: any batch split replays to the same
    registers as one fit over everything; estimates come along free."""
    from flink_ml_spark.streaming import StreamingCardinalityMonitor
    from flink_ml_spark.llmdata import HyperLogLogSketch
    df = spark.createDataFrame([(f"u{i % 700}",) for i in range(3000)],
                               "tok string")
    mon = StreamingCardinalityMonitor("tok", precision=8)
    for i, part in enumerate((df.limit(1000),
                              df.subtract(df.limit(1000)), df)):
        mon.process_batch(part, i)
    full = HyperLogLogSketch(inputCol="tok", precision=8).fit(df)
    assert mon.model.model_data["registers"] == full.model_data["registers"]
    assert len(mon.history) == 3
    assert mon.history[-1]["estimate"] == full.estimate()


def test_streaming_funnel_matches_batch(spark, tmp_path):
    """2-batch event-time-ordered replay + sentinel flush == batch
    FunnelAnalyzer, including the stage-order and never-reached rules."""
    import os

    from pyspark.sql import functions as F
    from flink_ml_spark.streaming import StreamingFunnel
    from flink_ml_spark.common.temporal import FunnelAnalyzer
    rows = [
        (1, "view", 10_000), (1, "click", 20_000), (1, "purchase", 700_000),
        (2, "click", 5_000), (2, "view", 10_000),   # click precedes view
        (3, "view", 10_000), (3, "purchase", 15_000),  # skips click
        (4, "click", 1_000),                            # never views
        (5, "view", 650_000), (5, "click", 660_000),   # batch-2 progress
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, "
                                     "ts_ms long") \
        .withColumn("ts_t", F.timestamp_millis(F.col("ts_ms")))
    gap = 10_000_000
    sent = spark.createDataFrame([(-1, "noop", 99_000_000)],
                                 "user_id long, event_type string, "
                                 "ts_ms long") \
        .withColumn("ts_t", F.timestamp_millis(F.col("ts_ms")))
    ind = tmp_path / "in"
    os.mkdir(ind)
    parts = [df.where("ts_ms <= 600000"), df.where("ts_ms > 600000"),
             sent, sent.withColumn("ts_ms", F.col("ts_ms") + 600_000)
             .withColumn("ts_t", F.timestamp_millis(F.col("ts_ms")))]
    for i, part in enumerate(parts):
        d = tmp_path / f"b{i}"
        part.coalesce(1).write.parquet(str(d))
        src = [f for f in os.listdir(d) if f.endswith(".parquet")][0]
        dst = ind / f"batch{i}.parquet"
        (d / src).rename(dst)
        os.utime(dst, (1_000_000_000 + i * 1000,) * 2)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        stream = (spark.readStream.schema(df.schema)
                  .option("maxFilesPerTrigger", 1).parquet(str(ind)))
        fun = StreamingFunnel("user_id", "event_type", "ts_ms",
                              ["view", "click", "purchase"],
                              inactivity_ms=gap,
                              watermark_delay="1 second").apply(stream)
        q = (fun.writeStream.format("memory").queryName("sf_test")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {r["user_id"]: (r["t1"], r["t2"], r["t3"],
                              r["stages_completed"])
               for r in spark.table("sf_test")
               .filter("user_id >= 0").collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    batch = FunnelAnalyzer("user_id", "event_type", "ts_ms",
                           ["view", "click", "purchase"]).transform(df)
    exp = {r["user_id"]: (r["t1"],
                          r["t2"] if r["t2"] is not None else -1,
                          r["t3"] if r["t3"] is not None else -1,
                          r["stages_completed"])
           for r in batch.collect()}
    assert got == exp


def test_streaming_funnel_query_pins_no_data_batches(spark, sf_dir):
    """The funnel's timeouts fire only in the trailing no-data
    micro-batch: a session that turned those batches off must still get
    the full result, and get its own setting back afterwards."""
    from flink_ml_spark.queries.streaming_queries import streaming_funnel
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        n = streaming_funnel(spark, sf_dir).count()
        assert spark.conf.get(key) == "false"
    finally:
        spark.conf.set(key, prev)
    assert n > 0
