"""Dataflow-primitive tests (SURVEY §2.8 — DataStreamUtils parity)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from flink_ml_spark.common import dataflow as D
from flink_ml_spark.streaming.windows import Windows


@pytest.fixture()
def nums(spark):
    return spark.createDataFrame([(i, float(i), [float(i), 1.0]) for i in range(100)],
                                 "id long, x double, v array<double>")


def test_map_partition(spark, nums):
    def add_col(it):
        for pdf in it:
            pdf = pdf[["id"]].copy()
            pdf["twice"] = pdf["id"] * 2
            yield pdf

    out = D.map_partition(nums, add_col, "id long, twice long")
    rows = {r["id"]: r["twice"] for r in out.collect()}
    assert rows[7] == 14 and len(rows) == 100


def test_reduce_rows(spark, nums):
    row = D.reduce_rows(nums, F.sum("x").alias("s"), F.count("*").alias("n"))
    assert row["s"] == pytest.approx(4950.0) and row["n"] == 100


def test_aggregate_keyed(spark, nums):
    out = D.aggregate_keyed(nums.withColumn("k", F.col("id") % 2), ["k"],
                            F.sum("x").alias("s"))
    got = {r["k"]: r["s"] for r in out.collect()}
    assert got[0] == pytest.approx(2450.0) and got[1] == pytest.approx(2500.0)


def test_sample_n(spark, nums):
    got = D.sample_n(nums, 10, seed=7)
    assert len(got) == 10
    assert len({r["id"] for r in got}) == 10  # without replacement


def test_all_reduce_sum(spark, nums):
    s = D.all_reduce_sum(nums, "v")
    assert s == pytest.approx(np.array([4950.0, 100.0]))


def test_co_group(spark):
    left = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], "k long, s string")
    right = spark.createDataFrame([(1, 10.0), (2, 20.0), (2, 30.0)], "k long, x double")

    def merge(l, r):
        import pandas as pd
        return pd.DataFrame({"k": [l["k"].iloc[0] if len(l) else r["k"].iloc[0]],
                             "n_left": [len(l)], "sum_right": [r["x"].sum()]})

    out = D.co_group(left, right, "k", "k", merge, "k long, n_left long, sum_right double")
    got = {r["k"]: (r["n_left"], r["sum_right"]) for r in out.collect()}
    assert got[1] == (2, 10.0) and got[2] == (1, 50.0)


def test_window_all_global_and_count(spark, nums):
    row = D.window_all_and_process(nums, Windows.global_windows(), None,
                                   F.sum("x").alias("s")).first()
    assert row["s"] == pytest.approx(4950.0)
    out = D.window_all_and_process(nums, Windows.count_tumbling(25), None,
                                   F.count("*").alias("n"))
    assert sorted(r["n"] for r in out.collect()) == [25, 25, 25, 25]


def test_generate_batch_data(spark, nums):
    batches = list(D.generate_batch_data(nums, 30))
    sizes = sorted(b.count() for b in batches)
    assert sum(sizes) == 100 and len(batches) == 4


def test_with_broadcast(spark, nums):
    dim = spark.createDataFrame([(0, "even"), (1, "odd")], "k long, name string")
    out = D.with_broadcast(nums.withColumn("k", F.col("id") % 2), dim, "k")
    assert out.count() == 100
    assert "BroadcastHashJoin" in out._jdf.queryExecution().executedPlan().toString()


def test_window_all_session(spark):
    """EventTimeSessionWindows.withGap → F.session_window groups."""
    from pyspark.sql import functions as F
    from flink_ml_spark.common.dataflow import window_all_and_process
    from flink_ml_spark.streaming import Windows
    rows = [(0.0, 1.0), (1000.0, 2.0), (10000.0, 3.0), (10500.0, 4.0)]
    df = spark.createDataFrame(rows, "ts double, v double") \
        .withColumn("t", F.timestamp_millis(F.col("ts").cast("long")))
    out = window_all_and_process(
        df, Windows.event_time_session(2000), "t",
        F.sum("v").alias("s")).orderBy("window_start").collect()
    assert [r["s"] for r in out] == [3.0, 7.0]


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("keyed,k", [(True, 7), (True, 1001), (False, 7),
                                     (False, 1001)],
                         ids=["keyed-k7", "keyed-k1001", "unkeyed-k7",
                              "unkeyed-k1001"])
def test_top_k_per_key_matches_single_stage(spark, keyed, k):
    """The helper's rank equals the plain window rank computed with the
    partial window-group limit switched off, on a key holding 90% of the
    rows, below (k=7) and above (k=1001) the limit's threshold."""
    from collections import Counter
    from pyspark.sql import Window, functions as F
    from flink_ml_spark.common.dataflow import top_k_per_key

    rows = [(0 if i % 10 else 1 + i % 7, i, float((i * 37) % 101))
            for i in range(3000)]
    df = spark.createDataFrame(rows, "key int, id int, score double")
    part = ["key"] if keyed else []
    order = [F.desc("score"), F.asc("id")]
    got = top_k_per_key(df, part, order, k, rank_col="rank")
    plan = _plan(got)
    if keyed and k == 7:
        assert "WindowGroupLimit" in plan and ", Partial" in plan
        assert plan.count("Exchange ") == 1
    elif keyed:
        assert "WindowGroupLimit" not in plan
    elif k == 7:
        assert "TakeOrderedAndProject" in plan
    g = {(r["key"], r["id"], r["rank"]) for r in got.collect()}

    conf = "spark.sql.optimizer.windowGroupLimitThreshold"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "-1")
    try:
        w = Window.partitionBy(*part).orderBy(*order)
        want = (df.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k))
        assert "WindowGroupLimit" not in _plan(want)
        e = {(r["key"], r["id"], r["rank"]) for r in want.collect()}
    finally:
        spark.conf.set(conf, old)
    sizes = Counter(r[0] for r in rows).values() if keyed else [len(rows)]
    assert len(e) == sum(min(k, n) for n in sizes)
    assert g == e


def test_with_contiguous_id_gap_free(spark):
    from flink_ml_spark.common.dataflow import with_contiguous_id

    df = spark.range(0, 1000).repartition(13)
    out = with_contiguous_id(df, "seq")
    seqs = sorted(r["seq"] for r in out.collect())
    assert seqs == list(range(1, 1001))
    # no unpartitioned Window in the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_window_all_sliding(spark):
    from flink_ml_spark.common.dataflow import window_all_and_process
    from flink_ml_spark.streaming.windows import Windows
    import pyspark.sql.functions as F
    rows = [(t * 1000, 1.0) for t in [0, 5, 12, 19, 31]]
    df = spark.createDataFrame(rows, "ms long, v double") \
        .select(F.timestamp_millis("ms").alias("ts"), "v")
    out = window_all_and_process(df, Windows.event_time_sliding(20_000, 10_000),
                                 "ts", F.count("*").alias("n"))
    got = {int(r["window_start"].timestamp()) * 1000: r["n"]
           for r in out.collect()}
    # each event lands in exactly 2 hopping windows
    assert got == {-10_000: 2, 0: 4, 10_000: 2, 20_000: 1, 30_000: 1}


def test_windows_sliding_json_roundtrip():
    from flink_ml_spark.streaming.windows import Windows
    w = Windows.event_time_sliding(60_000, 15_000)
    assert Windows.from_json(w.to_json()) == w
    import pytest
    with pytest.raises(ValueError):
        Windows.event_time_sliding(10, 20)


def test_window_all_processing_time_with_injected_clock(spark):
    # processing-time windows = arrival stamp through the event-time
    # machinery; a deterministic injected clock verifies the window math
    # (wall-clock stamps are inherently non-replayable)
    from flink_ml_spark.streaming.windows import Windows
    import pyspark.sql.functions as F
    rows = [(i, float(i)) for i in range(6)]
    df = spark.createDataFrame(rows, "i long, v double")
    clock = F.timestamp_millis(F.col("i") * 7_000)  # arrivals 7 s apart
    out = D.window_all_and_process(
        df, Windows.processing_time_tumbling(10_000), None,
        F.count("*").alias("n"), clock=clock)
    got = {int(r["window_start"].timestamp()) * 1000: r["n"]
           for r in out.collect()}
    assert got == {0: 2, 10_000: 1, 20_000: 2, 30_000: 1}
    # session flavor: a >gap silence splits the stream
    clock2 = F.timestamp_millis(
        F.when(F.col("i") < 3, F.col("i") * 1_000)
         .otherwise(F.col("i") * 1_000 + 60_000))
    out2 = D.window_all_and_process(
        df, Windows.processing_time_session(5_000), None,
        F.count("*").alias("n"), clock=clock2)
    assert sorted(r["n"] for r in out2.collect()) == [3, 3]


def test_window_all_processing_time_wall_clock_default(spark):
    # default clock: every row of one batch job stamps within the job's
    # wall-clock moment, so a coarse window holds them all
    from flink_ml_spark.streaming.windows import Windows
    df = spark.createDataFrame([(i,) for i in range(10)], "i long")
    out = D.window_all_and_process(
        df, Windows.processing_time_tumbling(3600_000), None,
        F.count("*").alias("n")).collect()
    assert len(out) == 1 and out[0]["n"] == 10


def test_windows_processing_time_json_roundtrip():
    from flink_ml_spark.streaming.windows import Windows
    w = Windows.processing_time_tumbling(10_000)
    assert w.is_processing_time
    assert Windows.from_json(w.to_json()) == w


def _persisted_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_ordered_prefix_sums_matches_pandas_across_partitions(spark,
                                                              monkeypatch):
    """On several range partitions and 7-row Arrow batches, the per-group
    running sums (a NULL group included, groups spanning partition and
    batch boundaries) equal a pandas groupby cumsum, and ``by=()`` gives
    the global cumsum; the persisted relation is released on exit."""
    import pandas as pd
    monkeypatch.setattr(D, "ROWS_PER_PART", 60)
    rng = np.random.RandomState(3)
    rows = [(["a", "b", None][i % 3], float(rng.randn()), int(rng.randint(1, 9)),
             float(rng.rand())) for i in range(300)]
    df = spark.createDataFrame(rows, "g string, v double, c long, w double")
    ref = pd.DataFrame(rows, columns=["g", "v", "c", "w"])
    ref["gk"] = ref["g"].fillna("")  # NULL sorts first, like "" here
    before = _persisted_ids(spark)
    key = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        for by, keys in ((["g"], ["gk"]), ((), [])):
            with D.ordered_prefix_sums(df, [F.col("v").asc()], ["c", "w"],
                                       len(rows), by=by) as cum:
                assert cum.rdd.getNumPartitions() >= 3
                got = {r["v"]: r for r in cum.collect()}
            want = ref.sort_values([*keys, "v"])
            grp = want.groupby(keys or np.zeros(len(want)), sort=False)
            want_c = dict(zip(want["v"], grp["c"].cumsum()))
            want_w = dict(zip(want["v"], grp["w"].cumsum()))
            assert len(got) == len(rows)
            for v, r in got.items():
                assert r["cum_c"] == want_c[v], (by, v)
                assert r["cum_w"] == pytest.approx(want_w[v], rel=1e-12)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", key)
    assert _persisted_ids(spark) <= before


def test_ordered_prefix_sums_releases_cache_on_error(spark):
    df = spark.createDataFrame([(float(i), 1) for i in range(10)],
                               "v double, c long")
    before = _persisted_ids(spark)
    with pytest.raises(RuntimeError):
        with D.ordered_prefix_sums(df, [F.col("v").asc()], ["c"], 10) as cum:
            assert cum.agg(F.max("cum_c")).first()[0] == 10
            raise RuntimeError("boom")
    assert _persisted_ids(spark) <= before
